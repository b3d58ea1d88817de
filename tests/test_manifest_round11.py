"""Round-11 lakehouse hardening: MERGE as one atomic snapshot — a
``kind='merge'`` manifest whose data files hold the update rows and
whose recorded ``merge_keys`` tombstone the matched pre-merge state, so
the two-commit delete+append window of the round-10 merge_upsert can no
longer be observed by any reader."""

from __future__ import annotations

import json
import os
import threading

import pytest

from olap_project_spark.export.manifest_sink import (
    compact_range,
    compact_snapshots,
    merge_upsert,
    plan_pruned_files,
    read_changes,
    read_committed,
    read_pruned,
    save_manifest,
    table_files,
    table_schema,
    table_versions,
)


NUM_SCHEMA = "k bigint, v double"


def _seed(spark, path, n=20, parts=1):
    save_manifest(
        spark.range(0, n)
        .selectExpr("id as k", "cast(1.0 as double) as v")
        .repartition(parts),
        path,
    )


def _updates(spark, lo, hi, v=9.0):
    return spark.range(lo, hi).selectExpr(
        "id as k", f"cast({v} as double) as v"
    )


class TestAtomicMerge:
    def test_merge_is_exactly_one_version(self, spark, tmp_path):
        """A reader pinned at ANY committed version sees exactly the
        pre-merge state or exactly the post-merge state — there is no
        intermediate version where the delete applied but the insert
        had not (the round-10 two-commit window)."""
        path = str(tmp_path / "atomic")
        _seed(spark, path, n=20)
        res = merge_upsert(
            spark, path, _updates(spark, 10, 30), ["k"]
        )
        assert table_versions(path) == [1, 2]
        assert res["version"] == 2 and res["n_updates"] == 20
        old = read_committed(spark, path, NUM_SCHEMA, as_of=1)
        assert old.count() == 20
        assert old.filter("v = 9.0").count() == 0
        new = read_committed(spark, path, NUM_SCHEMA, as_of=2)
        assert new.count() == 30  # 10 kept + 20 upserted
        assert new.filter("v = 9.0").count() == 20
        assert new.filter("v = 1.0").count() == 10

    def test_merge_manifest_records_keys_and_rows(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "meta")
        _seed(spark, path, n=4)
        merge_upsert(spark, path, _updates(spark, 0, 2), ["k"])
        with open(os.path.join(path, "_manifest-000002.json")) as f:
            m = json.load(f)
        assert m["kind"] == "merge"
        assert m["merge_keys"] == ["k"]
        assert m["n_rows"] == 2
        # the merge records the FULL row schema (it is a data commit,
        # a table-schema evolution step — unlike a delete's key schema)
        assert table_schema(path) is not None
        assert {f.name for f in table_schema(path).fields} == {"k", "v"}

    def test_concurrent_reader_sees_old_or_new_never_half(
        self, spark, tmp_path
    ):
        """Live-concurrency leg: readers polling the table WHILE the
        merge commits must observe only the two legal states. With the
        old two-commit merge a poll between the legs read 10 rows
        (delete applied, re-insert missing); any such observation
        fails this test."""
        path = str(tmp_path / "live")
        _seed(spark, path, n=20)
        legal = {
            (20, 20 * 1.0),  # pre-merge: 20 rows at v=1.0
            (25, 5 * 1.0 + 20 * 9.0),  # post-merge: 5 kept + 20 at 9.0
        }
        observed: list[tuple[int, float]] = []
        stop = threading.Event()

        def poll():
            from pyspark.sql import functions as F

            while not stop.is_set():
                # ONE read per observation: count and sum must come
                # from the same snapshot or the pair itself races
                row = (
                    read_committed(spark, path, NUM_SCHEMA)
                    .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
                    .collect()[0]
                )
                observed.append((row["n"], row["s"] or 0.0))

        t = threading.Thread(target=poll)
        t.start()
        try:
            merge_upsert(
                spark, path, _updates(spark, 5, 25), ["k"]
            )
        finally:
            stop.set()
            t.join()
        assert observed, "poller never completed a read"
        illegal = [o for o in observed if o not in legal]
        assert illegal == [], f"reader observed intermediate state: {illegal}"

    def test_merge_cdf_is_one_commit_version(self, spark, tmp_path):
        """read_changes across a merge emits the removed pre-image rows
        as deletes and the update rows as inserts, all stamped with the
        ONE merge version."""
        path = str(tmp_path / "cdf")
        _seed(spark, path, n=10)
        merge_upsert(spark, path, _updates(spark, 8, 12), ["k"])
        feed = read_changes(spark, path, NUM_SCHEMA, 1, 2).collect()
        assert {r["_commit_version"] for r in feed} == {2}
        deletes = [r for r in feed if r["_change_type"] == "delete"]
        inserts = [r for r in feed if r["_change_type"] == "insert"]
        # keys 8,9 existed and were replaced; 10,11 are pure inserts
        assert sorted(r["k"] for r in deletes) == [8, 9]
        assert sorted(r["k"] for r in inserts) == [8, 9, 10, 11]
        assert all(r["v"] == 1.0 for r in deletes)  # pre-image rows
        assert all(r["v"] == 9.0 for r in inserts)

    def test_partial_compaction_rejects_unmaterialized_merge(
        self, spark, tmp_path
    ):
        """compact_range over a merge not yet materialized by a full
        rewrite would resurrect the tombstoned pre-merge rows in files
        it retains; a full compaction clears the hazard."""
        path = str(tmp_path / "pc")
        _seed(spark, path, n=20)
        merge_upsert(spark, path, _updates(spark, 0, 5), ["k"])
        with pytest.raises(ValueError, match="resurrect"):
            compact_range(spark, path, NUM_SCHEMA, "k", 0, 10)
        compact_snapshots(spark, path, NUM_SCHEMA)
        res = compact_range(spark, path, NUM_SCHEMA, "k", 0, 10)
        assert res["version"] > 0
        back = read_committed(spark, path, NUM_SCHEMA)
        assert back.count() == 20
        assert back.filter("v = 9.0").count() == 5

    def test_merge_missing_column_rejected_before_commit(
        self, spark, tmp_path
    ):
        """An update frame lacking a table column would poison schema
        discovery if committed; merge_upsert rejects it driver-side and
        the table is untouched."""
        path = str(tmp_path / "guard")
        _seed(spark, path, n=4)
        partial = spark.range(0, 2).selectExpr("id as k")
        with pytest.raises(ValueError, match="whole-row"):
            merge_upsert(spark, path, partial, ["k"])
        assert table_versions(path) == [1]
        assert read_committed(spark, path, NUM_SCHEMA).count() == 4

    def test_merge_requires_keys_in_update_schema(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "keys")
        _seed(spark, path, n=4)
        with pytest.raises(Exception, match="merge_keys"):
            merge_upsert(
                spark, path, _updates(spark, 0, 2), ["nope"]
            )
        with pytest.raises(ValueError, match="at least one"):
            merge_upsert(spark, path, _updates(spark, 0, 2), [])

    def test_reinsert_after_merge_survives(self, spark, tmp_path):
        """Sequence-number rule across kinds: a merge tombstones only
        the state BEFORE it; a later plain append of the same key
        stacks on top (duplicate keys are the append contract)."""
        path = str(tmp_path / "seq")
        _seed(spark, path, n=4)
        merge_upsert(spark, path, _updates(spark, 0, 2), ["k"])
        save_manifest(
            spark.createDataFrame([(0, 5.0)], NUM_SCHEMA).repartition(1),
            path,
        )
        back = read_committed(spark, path, NUM_SCHEMA)
        assert back.count() == 5
        assert back.filter("k = 0").count() == 2  # merged row + append


class TestHiddenPartitioning:
    """Iceberg-style partition transforms: the manifest records a
    transform spec + per-file transform ranges; source-column
    predicates prune files with no materialized partition column."""

    TS_SCHEMA = "k bigint, ts timestamp, v double"

    def _ts_frame(self, spark, hours=96):
        return spark.range(0, hours).selectExpr(
            "id as k",
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,"
            "cast(id as int),0,0) as ts",
            "cast(id % 5 as double) as v",
        )

    def test_days_transform_prunes_and_loses_nothing(
        self, spark, tmp_path
    ):
        import datetime as dt

        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            read_committed,
            read_pruned,
            write_partitioned,
        )

        path = str(tmp_path / "days")
        write_partitioned(
            spark, self._ts_frame(spark), path, "ts", "days",
            n_files=4,
        )
        lo = dt.datetime(2024, 1, 2)
        hi = dt.datetime(2024, 1, 2, 23, 59, 59)
        kept, total = plan_pruned_files(path, "ts", lo, hi)
        assert total == 4
        assert 1 <= len(kept) <= 2  # range boundaries come from sampling
        got = (
            read_pruned(spark, path, self.TS_SCHEMA, "ts", lo, hi)
            .filter("ts >= '2024-01-02' and ts < '2024-01-03'")
            .count()
        )
        want = (
            read_committed(spark, path, self.TS_SCHEMA)
            .filter("ts >= '2024-01-02' and ts < '2024-01-03'")
            .count()
        )
        assert got == want == 24

    def test_truncate_and_bucket_transforms(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            write_partitioned,
        )

        ints = spark.range(0, 1000).selectExpr(
            "id as k", "cast(1.0 as double) as v"
        )
        t_path = str(tmp_path / "trunc")
        write_partitioned(
            spark, ints, t_path, "k", "truncate", arg=100, n_files=10
        )
        kept, total = plan_pruned_files(t_path, "k", 250, 260)
        assert total == 10 and len(kept) == 1
        b_path = str(tmp_path / "bkt")
        write_partitioned(
            spark, ints, b_path, "k", "bucket", arg=8, n_files=8
        )
        # bucket prunes equality probes only; the zone maps still
        # prune ranges on the raw column independently
        kept_eq, total_b = plan_pruned_files(b_path, "k", 5, 5)
        assert total_b == 8 and len(kept_eq) == 1

    def test_null_source_value_disables_pruning_for_that_file(
        self, spark, tmp_path
    ):
        import json as _json
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
        )

        path = str(tmp_path / "nulls")
        save_manifest(
            spark.createDataFrame([(1, None, 1.0)], self.TS_SCHEMA)
            .repartition(1),
            path,
            partition_transform=_json.dumps({"col": "ts", "kind": "days"}),
        )
        manifest = _os.path.join(path, "_manifest-000001.json")
        with open(manifest) as f:
            m = _json.load(f)
        assert m["partition_transform"]["kind"] == "days"
        assert m["file_partitions"] == {}  # null seen: no range recorded
        import datetime as dt

        kept, total = plan_pruned_files(
            path, "ts", dt.datetime(1999, 1, 1), dt.datetime(1999, 1, 2)
        )
        assert kept and total == 1  # conservatively kept

    def test_scalar_and_array_transforms_agree(self):
        import datetime as dt

        import pyarrow as pa

        from olap_project_spark.export.manifest_sink import (
            _transform_array,
            _transform_scalar,
        )

        stamps = [
            dt.datetime(2023, 12, 31, 23),
            dt.datetime(2024, 1, 1, 0),
            dt.datetime(2024, 2, 29, 12),
            dt.datetime(2024, 3, 1, 1),
        ]
        arr = pa.array(stamps, type=pa.timestamp("us"))
        for kind in ("year", "month", "days", "hours"):
            spec = {"col": "ts", "kind": kind, "arg": None}
            vec = list(_transform_array(spec, arr))
            assert vec == [_transform_scalar(spec, s) for s in stamps], kind
        ints = [-250, -1, 0, 99, 100, 101]
        arr_i = pa.array(ints, type=pa.int64())
        for kind, arg in (("identity", None), ("truncate", 100), ("bucket", 7)):
            spec = {"col": "k", "kind": kind, "arg": arg}
            vec = list(_transform_array(spec, arr_i))
            assert vec == [_transform_scalar(spec, v) for v in ints], kind

    def test_compaction_preserves_hidden_partitioning(
        self, spark, tmp_path
    ):
        """compact_snapshots(partition_by=...) re-records the transform
        spec + per-file ranges through the rewrite — without it the
        consolidation would silently drop the layout and every later
        time-window read would stop pruning."""
        import datetime as dt

        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            read_committed,
            write_partitioned,
        )

        path = str(tmp_path / "compat")
        write_partitioned(
            spark,
            self._ts_frame(spark, hours=48),
            path,
            "ts",
            "days",
            n_files=2,
        )
        write_partitioned(
            spark,
            self._ts_frame(spark, hours=96).filter("k >= 48"),
            path,
            "ts",
            "days",
            n_files=2,
        )
        compact_snapshots(
            spark,
            path,
            self.TS_SCHEMA,
            partition_by=("ts", "days"),
            n_files=4,
        )
        lo = dt.datetime(2024, 1, 2)
        hi = dt.datetime(2024, 1, 2, 23, 59, 59)
        kept, total = plan_pruned_files(path, "ts", lo, hi)
        assert total == 4  # the rewrite's files, not the history's
        assert 1 <= len(kept) <= 2
        got = (
            read_committed(spark, path, self.TS_SCHEMA)
            .filter("ts >= '2024-01-02' and ts < '2024-01-03'")
            .count()
        )
        assert got == 24

    def test_layout_options_mutually_exclusive(self, spark, tmp_path):
        with pytest.raises(ValueError, match="mutually"):
            compact_snapshots(
                spark,
                str(tmp_path / "never"),
                self.TS_SCHEMA,
                cluster_by=["k"],
                partition_by=("ts", "days"),
            )

    def test_invalid_transform_rejected(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            write_partitioned,
        )

        with pytest.raises(ValueError, match="unknown partition transform"):
            write_partitioned(
                spark,
                spark.range(1).selectExpr("id as k"),
                str(tmp_path / "bad"),
                "k",
                "weeks",
            )
        with pytest.raises(ValueError, match="positive int"):
            write_partitioned(
                spark,
                spark.range(1).selectExpr("id as k"),
                str(tmp_path / "bad2"),
                "k",
                "truncate",
            )


class TestConditionalPutRelease:
    """Round-10 ADVICE: ConditionalPutClaimer needs a real release() —
    without one an abandoned branch's or GC'd claim's version stays a
    phantom claim in the store forever, blocking vacuum's orphan GC
    permanently."""

    def _claimer(self):
        from olap_project_spark.export.manifest_sink import (
            ConditionalPutClaimer,
        )

        store: set = set()
        return (
            ConditionalPutClaimer(
                put_if_absent=lambda k: (
                    False if k in store else (store.add(k) or True)
                ),
                list_claimed=lambda p: [
                    int(k.rsplit("-", 1)[1].split(".")[0])
                    for k in store
                    if k.startswith(f"{p}/_manifest-")
                ],
                delete=store.discard,
            ),
            store,
        )

    @staticmethod
    def _commit(path, kind="append", branch=None, tag="x"):
        """Drive ONE commit through the real driver-side protocol
        in-process, with no Spark job — same technique as the round-10
        seam tests."""
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            ManifestWriter,
            _PartCommit,
        )

        _os.makedirs(path, exist_ok=True)
        opts = {"path": path, "kind": kind}
        if branch is not None:
            opts["branch"] = branch
        w = ManifestWriter(opts)
        w.commit([_PartCommit(file_name=f"part-{tag}.parquet", n_rows=1)])

    def test_abandon_branch_releases_store_claims(self, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            abandon_branch,
            set_version_claimer,
        )

        claimer, store = self._claimer()
        prev = set_version_claimer(claimer)
        try:
            path = str(tmp_path / "cpc_ab")
            self._commit(path, tag="base")
            self._commit(path, branch="audit-wip", tag="staged")
            assert len(store) == 2  # base + branch claim
            assert abandon_branch(path, "audit-wip") == 1
            # the claim left the store: version 2 is a reusable hole,
            # not a permanent phantom in flight
            assert len(store) == 1
            assert claimer.in_flight_versions(path) == set()
            self._commit(path, tag="next")  # reclaims version 2
            assert table_versions(path) == [1, 2]
            assert claimer.in_flight_versions(path) == set()
        finally:
            set_version_claimer(prev)

    def test_stale_claim_gc_releases_store_claims(self, tmp_path):
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            set_version_claimer,
            vacuum_snapshots,
        )

        claimer, store = self._claimer()
        prev = set_version_claimer(claimer)
        try:
            path = str(tmp_path / "cpc_gc")
            self._commit(path, tag="base")
            # simulate a crash between claim and os.replace: claim in
            # the store AND an empty file on disk
            assert claimer.claim(path, 2)
            open(_os.path.join(path, "_manifest-000002.json"), "w").close()
            stats = vacuum_snapshots(
                path, delete_orphans=False, stale_claim_ttl_s=0.0
            )
            assert stats["stale_claims_deleted"] == 1
            # released from the store too — vacuum's in-flight guard
            # re-arms instead of blocking forever
            assert len(store) == 1
            stats2 = vacuum_snapshots(path, delete_orphans=False)
            assert stats2["in_flight_commits"] == 0
        finally:
            set_version_claimer(prev)

    def test_release_without_delete_raises(self, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            ConditionalPutClaimer,
        )

        c = ConditionalPutClaimer(
            put_if_absent=lambda k: True, list_claimed=lambda p: []
        )
        with pytest.raises(NotImplementedError, match="delete callable"):
            c.release(str(tmp_path), 1)

    def test_stale_gc_last_moment_reverify_spares_landed_commit(
        self, spark, tmp_path
    ):
        """A claim file that became a real manifest between the TTL
        check setup and the remove is spared (non-zero size), and its
        files are referenced — never orphan-collected — this run."""
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            vacuum_snapshots,
        )

        path = str(tmp_path / "reverify")
        _seed(spark, path, n=4)
        # a NON-empty but unparseable file models the half-landed racing
        # replace: too big to be a crashed claim, not yet valid JSON
        racing = _os.path.join(path, "_manifest-000002.json")
        with open(racing, "w") as f:
            f.write("{not json")
        stats = vacuum_snapshots(path, stale_claim_ttl_s=0.0)
        assert stats["stale_claims_deleted"] == 0
        assert stats["in_flight_commits"] >= 1
        assert stats["orphans_deleted"] == 0  # GC disarmed under it
        assert _os.path.exists(racing)


class TestPrunedReadTombstones:
    def test_pruned_merge_file_still_tombstones(self, spark, tmp_path):
        """A pruned read that excludes the MERGE's own data file must
        not resurrect the pre-merge rows it tombstoned: file pruning
        and tombstone application are independent."""
        path = str(tmp_path / "tomb")
        _seed(spark, path, n=10)  # v = 1.0, k in [0, 10)
        # the merge upserts k=3 to v=9.0 and inserts k in [100, 105):
        # no merge data file holds a key in [0, 2]
        upd = spark.createDataFrame(
            [(3, 9.0)] + [(100 + i, 9.0) for i in range(5)], NUM_SCHEMA
        )
        merge_upsert(spark, path, upd, ["k"])
        merge_files = {
            f["file_name"] for f in table_files(path) if f["version"] == 2
        }
        kept, total = plan_pruned_files(path, "k", 0, 2)
        assert total == 1 + len(merge_files)
        assert kept and not merge_files & set(kept)
        # the read of k in [0, 2] scans only the seed file, which holds
        # the pre-merge k=3 row: the merge's tombstone still drops it
        low = read_pruned(spark, path, NUM_SCHEMA, "k", 0, 2)
        assert sorted((r["k"], r["v"]) for r in low.collect()) == [
            (k, 1.0) for k in range(10) if k != 3
        ]
        k3 = read_pruned(spark, path, NUM_SCHEMA, "k", 3, 3).filter("k = 3")
        assert [(r["k"], r["v"]) for r in k3.collect()] == [(3, 9.0)]


class TestReviewFixesR11:
    """Round-11 self-review regressions: the vacuum in-flight window,
    pre-epoch hours flooring, layout preservation through scoped
    rewrites, zero-row file exclusion, commit-token attribution, and
    release-incapable-claimer degradation."""

    def test_vacuum_guard_survives_commit_landing_mid_pass(
        self, spark, tmp_path
    ):
        """A commit that lands BETWEEN vacuum's scan loop and the
        claimer derivation is readable there (not in-flight) yet
        absent from the scan's entries — the loop's own unresolved
        count must still disarm orphan GC or the just-committed data
        files get deleted as orphans."""
        import json as _json
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            PosixVersionClaimer,
            set_version_claimer,
            vacuum_snapshots,
        )

        path = str(tmp_path / "midpass")
        _seed(spark, path, n=4)
        # version 2 is mid-commit: staging file written, manifest
        # still the empty O_EXCL claim
        staging = _os.path.join(path, "_staging")
        data = _os.path.join(staging, "part-midpass.parquet")
        open(data, "wb").write(b"xx")
        claim = _os.path.join(path, "_manifest-000002.json")
        open(claim, "w").close()
        manifest = {
            "kind": "append",
            "files": ["part-midpass.parquet"],
            "n_rows": 1,
            "file_stats": {},
            "file_rows": {"part-midpass.parquet": 1},
            "version": 2,
        }

        class LandsBetween(PosixVersionClaimer):
            def in_flight_versions(self, p):
                # the rival's os.replace lands NOW — after vacuum's
                # scan loop, before the derivation
                with open(claim, "w") as f:
                    _json.dump(manifest, f)
                return super().in_flight_versions(p)

        prev = set_version_claimer(LandsBetween())
        try:
            stats = vacuum_snapshots(path)
        finally:
            set_version_claimer(prev)
        assert stats["in_flight_commits"] >= 1
        assert stats["orphans_deleted"] == 0
        assert _os.path.exists(data), "committed data eaten as orphan"

    def test_hours_transform_floors_pre_epoch(self):
        import datetime as dt

        import pyarrow as pa

        from olap_project_spark.export.manifest_sink import (
            _transform_array,
            _transform_scalar,
        )

        spec = {"col": "ts", "kind": "hours", "arg": None}
        edge = dt.datetime(1969, 12, 31, 23, 59, 59, 500000)
        assert _transform_scalar(spec, edge) == -1  # floor, not trunc
        arr = pa.array([edge], type=pa.timestamp("us"))
        assert list(_transform_array(spec, arr)) == [-1]

    def test_compact_range_preserves_hidden_partitioning(
        self, spark, tmp_path
    ):
        """A SCOPED rewrite must not strip the transform metadata:
        retained files keep their recorded ranges, new files get
        recomputed ones, and time-window pruning still works."""
        import datetime as dt

        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            read_committed,
            write_partitioned,
        )

        path = str(tmp_path / "scoped_keep")
        frame = spark.range(0, 96).selectExpr(
            "id as k",
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,"
            "cast(id as int),0,0) as ts",
            "cast(1.0 as double) as v",
        )
        write_partitioned(spark, frame, path, "ts", "days", n_files=4)
        # scoped rewrite over the LOW k range only
        res = compact_range(
            spark, path, "k bigint, ts timestamp, v double",
            "k", 0, 10, n_files=1,
        )
        assert res["n_rewritten"] >= 1 and res["n_retained"] >= 1
        lo = dt.datetime(2024, 1, 3)
        hi = dt.datetime(2024, 1, 3, 23, 59, 59)
        kept, total = plan_pruned_files(path, "ts", lo, hi)
        assert len(kept) < total, "transform metadata lost in rewrite"
        got = (
            read_committed(
                spark, path, "k bigint, ts timestamp, v double"
            )
            .filter("ts >= '2024-01-03' and ts < '2024-01-04'")
            .count()
        )
        assert got == 24

    def test_zero_row_files_provably_excluded(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
        )

        path = str(tmp_path / "zeros")
        df = spark.createDataFrame(
            [(1, 1.0), (2, 1.0)], NUM_SCHEMA
        ).repartition(4)
        # lazy-create default: 2 rows over 4 partitions stage only the
        # non-empty files (1 or 2 depending on round-robin placement)
        # — zero-row files never land at all
        save_manifest(df, path)
        kept, total = plan_pruned_files(path, "k", -10**9, 10**9)
        assert 1 <= total <= 2
        # no empty files exist, so the full-range plan keeps them all
        assert len(kept) == total
        # eager declared layouts still stage one file per partition
        # (empties included) — and planning provably excludes the
        # zero-row ones, the original r11 contract
        path2 = str(tmp_path / "zeros_eager")
        save_manifest(df, path2, eager_files="1")
        kept2, total2 = plan_pruned_files(path2, "k", -10**9, 10**9)
        assert total2 == 4
        assert len(kept2) <= 2  # empty files never planned

    def test_commit_token_attributes_the_right_version(
        self, spark, tmp_path
    ):
        import json as _json
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            _committed_entry_of,
        )

        path = str(tmp_path / "token")
        _seed(spark, path, n=4)
        res1 = merge_upsert(
            spark, path, _updates(spark, 0, 2, v=5.0), ["k"]
        )
        res2 = merge_upsert(
            spark, path, _updates(spark, 0, 2, v=7.0), ["k"]
        )
        # same keys, two merges: each call reported ITS OWN version
        assert (res1["version"], res2["version"]) == (2, 3)
        with open(_os.path.join(path, "_manifest-000002.json")) as f:
            assert "commit_token" in _json.load(f)
        with pytest.raises(RuntimeError, match="not found"):
            _committed_entry_of(path, "no-such-token")

    def test_release_incapable_claimer_degrades_safely(self, tmp_path):
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            ConditionalPutClaimer,
            abandon_branch,
            set_version_claimer,
            table_versions,
            vacuum_snapshots,
        )

        store: set = set()
        claimer = ConditionalPutClaimer(
            put_if_absent=lambda k: (
                False if k in store else (store.add(k) or True)
            ),
            list_claimed=lambda p: [
                int(k.rsplit("-", 1)[1].split(".")[0])
                for k in store
                if k.startswith(f"{p}/_manifest-")
            ],
            # no delete callable: release-incapable
        )
        prev = set_version_claimer(claimer)
        try:
            path = str(tmp_path / "nodelete")
            TestConditionalPutRelease._commit(path, tag="base")
            TestConditionalPutRelease._commit(
                path, branch="wip", tag="staged"
            )
            # abandon fails FAST, before removing anything
            with pytest.raises(NotImplementedError, match="release"):
                abandon_branch(path, "wip")
            assert len(table_versions(path)) == 2  # nothing half-done
            # stale-claim GC skips (file kept, counted in flight)
            assert claimer.claim(path, 3)
            open(_os.path.join(path, "_manifest-000003.json"), "w").close()
            stats = vacuum_snapshots(
                path, delete_orphans=False, stale_claim_ttl_s=0.0
            )
            assert stats["stale_claims_deleted"] == 0
            assert stats["in_flight_commits"] >= 1
            assert _os.path.exists(
                _os.path.join(path, "_manifest-000003.json")
            )
        finally:
            set_version_claimer(prev)


class TestMultiFieldSpec:
    """Iceberg multi-field partition specs: days(ts) + bucket(user) in
    ONE layout — a time window prunes via the days range and a user
    point-lookup prunes via the bucket equality, independently."""

    TS_SCHEMA = "u bigint, ts timestamp, v double"

    def _frame(self, spark, hours=96):
        return spark.range(0, hours * 10).selectExpr(
            "id % 40 as u",
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,"
            f"cast(id % {hours} as int),0,0) as ts",
            "cast(1.0 as double) as v",
        )

    def test_both_fields_prune_independently(self, spark, tmp_path):
        import datetime as dt

        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            read_committed,
            write_partitioned,
        )

        path = str(tmp_path / "multi")
        write_partitioned(
            spark,
            self._frame(spark),
            path,
            transforms=[("ts", "days"), ("u", "bucket", 8)],
            n_files=16,
        )
        # field 1: a one-day window prunes to ~1/4 of the files
        lo = dt.datetime(2024, 1, 2)
        hi = dt.datetime(2024, 1, 2, 23, 59, 59)
        kept_day, total = plan_pruned_files(path, "ts", lo, hi)
        assert total == 16
        assert len(kept_day) <= 6
        # field 2: a user equality probe prunes via the bucket ranges
        # WITHIN the day's files (intersection = both fields pruning)
        kept_u, _ = plan_pruned_files(path, "u", 3, 3)
        both = set(kept_day) & set(kept_u)
        assert len(both) < len(kept_day)
        got = (
            read_committed(
                spark, path, self.TS_SCHEMA, _keep=both
            )
            .filter(
                "u = 3 and ts >= '2024-01-02' and ts < '2024-01-03'"
            )
            .count()
        )
        want = (
            self._frame(spark)
            .filter(
                "u = 3 and ts >= '2024-01-02' and ts < '2024-01-03'"
            )
            .count()
        )
        assert got == want > 0

    def test_manifest_records_spec_list_and_per_field_ranges(
        self, spark, tmp_path
    ):
        import json as _json
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            write_partitioned,
        )

        path = str(tmp_path / "multirec")
        write_partitioned(
            spark,
            self._frame(spark, hours=24),
            path,
            transforms=[("ts", "days"), ("u", "bucket", 8)],
            n_files=4,
        )
        with open(_os.path.join(path, "_manifest-000001.json")) as f:
            m = _json.load(f)
        assert isinstance(m["partition_transform"], list)
        assert [s["kind"] for s in m["partition_transform"]] == [
            "days",
            "bucket",
        ]
        for ranges in m["file_partitions"].values():
            assert len(ranges) == 2  # one range per field

    def test_pushdown_composes_both_fields(self, spark, tmp_path):
        """Each field prunes through its own range; a pruned read over
        the day's files answers the combined probe exactly."""
        import datetime as dt

        from olap_project_spark.export.manifest_sink import (
            write_partitioned,
        )

        path = str(tmp_path / "multipush")
        write_partitioned(
            spark,
            self._frame(spark),
            path,
            transforms=[("ts", "days"), ("u", "bucket", 8)],
            n_files=16,
        )
        lo = dt.datetime(2024, 1, 2)
        hi = dt.datetime(2024, 1, 2, 23, 59, 59)
        kept_day, total = plan_pruned_files(path, "ts", lo, hi)
        kept_u, _ = plan_pruned_files(path, "u", 3, 3)
        assert total == 16
        assert len(set(kept_day) & set(kept_u)) < 6  # both fields pruned
        probe = (
            "u = 3 and ts >= timestamp'2024-01-02 00:00:00' "
            "and ts < timestamp'2024-01-03 00:00:00'"
        )
        day = read_pruned(spark, path, self.TS_SCHEMA, "ts", lo, hi)
        full = read_committed(spark, path, self.TS_SCHEMA)
        assert day.filter(probe).count() == full.filter(probe).count() > 0

    def test_single_field_form_unchanged_on_disk(
        self, spark, tmp_path
    ):
        """Round-11 back-compat: a one-field spec still writes the bare
        dict + flat range shape."""
        import json as _json
        import os as _os

        from olap_project_spark.export.manifest_sink import (
            write_partitioned,
        )

        path = str(tmp_path / "singleform")
        write_partitioned(
            spark,
            self._frame(spark, hours=24),
            path,
            "ts",
            "days",
            n_files=2,
        )
        with open(_os.path.join(path, "_manifest-000001.json")) as f:
            m = _json.load(f)
        assert isinstance(m["partition_transform"], dict)
        for rng in m["file_partitions"].values():
            assert len(rng) == 2 and not isinstance(rng[0], list)

    def test_compaction_preserves_multi_field_spec(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            plan_pruned_files,
            write_partitioned,
        )

        path = str(tmp_path / "multicompact")
        write_partitioned(
            spark,
            self._frame(spark),
            path,
            transforms=[("ts", "days"), ("u", "bucket", 8)],
            n_files=8,
        )
        compact_snapshots(
            spark,
            path,
            self.TS_SCHEMA,
            partition_by=[("ts", "days"), ("u", "bucket", 8)],
            n_files=8,
        )
        kept_u, total = plan_pruned_files(path, "u", 3, 3)
        assert total == 8 and len(kept_u) < total

