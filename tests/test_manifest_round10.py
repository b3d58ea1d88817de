"""Round-10 lakehouse hardening: the pluggable version-claim seam,
real concurrent-writer races, in-flight claims that hold a branch
publish, stale-claim vacuum, and the bucketed snapshot layout."""

from __future__ import annotations

import json
import os
import threading

import pytest

from olap_project_spark.export.manifest_sink import (
    ConditionalPutClaimer,
    ManifestWriter,
    PosixVersionClaimer,
    _PartCommit,
    compact_snapshots,
    publish_branch,
    read_committed,
    register_bucketed_table,
    save_manifest,
    set_version_claimer,
    table_versions,
    vacuum_snapshots,
)


SCHEMA = "k bigint, v string"


def _write(spark, path, rows, n_parts=1, **opts):
    df = spark.createDataFrame(rows, SCHEMA).repartition(n_parts)
    save_manifest(df, path, **opts)


def _commit_meta(path, tag, kind="append"):
    """Drive ONE commit through the real driver-side protocol (the
    commit step needs no Spark: it is pure metadata)."""
    w = ManifestWriter({"path": path, "kind": kind})
    w.commit([_PartCommit(file_name=f"part-{tag}.parquet", n_rows=1)])


class TestVersionClaimSeam:
    def test_racing_claimant_forces_retry_to_next_version(self, tmp_path):
        """Inject a claimer that loses its first claim (another writer
        'wins' the version just before us): commit must retry and land
        on the NEXT version, never overwrite the winner's."""
        path = str(tmp_path / "race")
        os.makedirs(path)

        class LoseFirst(PosixVersionClaimer):
            def __init__(self):
                self.lost = 0

            def claim(self, p, version):
                if self.lost == 0:
                    self.lost += 1
                    # the other writer claims this exact version
                    assert super().claim(p, version)
                    return False
                return super().claim(p, version)

        claimer = LoseFirst()
        prev = set_version_claimer(claimer)
        try:
            _commit_meta(path, "a")
        finally:
            set_version_claimer(prev)
        # version 1 = the rival's empty claim (in flight), version 2 = ours
        assert claimer.lost == 1
        m1 = os.path.join(path, "_manifest-000001.json")
        m2 = os.path.join(path, "_manifest-000002.json")
        assert os.path.getsize(m1) == 0
        assert json.load(open(m2))["version"] == 2

    def test_conditional_put_claimer_round_trip(self, tmp_path):
        """The object-store-shaped claimer: claims live in an injected
        store (conditional PUT), not the filesystem — two commits take
        versions 1 and 2, a pre-claimed key forces a skip."""
        path = str(tmp_path / "cput")
        os.makedirs(path)
        store: set[str] = set()
        lock = threading.Lock()

        def put_if_absent(key: str) -> bool:
            with lock:
                if key in store:
                    return False
                store.add(key)
                return True

        def list_claimed(p: str):
            pre = f"{p}/_manifest-"
            return [
                int(k[len(pre) :].split(".")[0])
                for k in store
                if k.startswith(pre)
            ]

        prev = set_version_claimer(
            ConditionalPutClaimer(put_if_absent, list_claimed)
        )
        try:
            store.add(f"{path}/_manifest-000001.json")  # rival in flight
            _commit_meta(path, "a")
            _commit_meta(path, "b")
        finally:
            set_version_claimer(prev)
        assert sorted(table_versions(path)) == [2, 3]

    def test_concurrent_committers_claim_distinct_versions(self, tmp_path):
        """N threads commit to one table simultaneously (the commit
        step is driver-side metadata — this exercises the REAL O_EXCL
        race on the real filesystem): every commit must land, versions
        must be distinct and contiguous, no manifest may be lost or
        overwritten."""
        path = str(tmp_path / "conc")
        os.makedirs(path)
        n = 8
        barrier = threading.Barrier(n)
        errors: list[Exception] = []

        def run(i: int) -> None:
            try:
                barrier.wait()
                _commit_meta(path, f"t{i}")
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)

        threads = [threading.Thread(target=run, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == []
        versions = table_versions(path)
        assert versions == list(range(1, n + 1))
        # every manifest parseable, every staged file referenced once
        files = []
        for v in versions:
            m = json.load(open(os.path.join(path, f"_manifest-{v:06d}.json")))
            assert m["version"] == v
            files += m["files"]
        assert len(files) == n and len(set(files)) == n

    def test_concurrent_committers_across_processes(self, tmp_path):
        """The same race across real PROCESSES (two writers on one
        table is the multi-job production shape): distinct contiguous
        versions, no lost update."""
        import concurrent.futures as cf

        path = str(tmp_path / "conc_proc")
        os.makedirs(path)
        n = 6
        with cf.ProcessPoolExecutor(max_workers=n) as pool:
            list(
                pool.map(
                    _process_commit, [(path, f"p{i}") for i in range(n)]
                )
            )
        assert table_versions(path) == list(range(1, n + 1))


def _process_commit(args: tuple[str, str]) -> None:
    path, tag = args
    _commit_meta(path, tag)


class TestStreamGapSemantics:
    """The not-yet-readable-gap rule on the publish side: an in-flight
    main claim below a branch version holds the publish."""

    def test_publish_blocked_by_in_flight_main_claim(
        self, spark, tmp_path
    ):
        """An in-flight MAIN commit below a branch version blocks the
        publish: if it later completed at a lower version than an
        already-published one, history would change retroactively."""
        path = str(tmp_path / "gap4")
        _write(spark, path, [(1, "a")])
        _write(spark, path, [(2, "b")], branch="wip")
        # rival main commit claims version 3, still in flight
        open(os.path.join(path, "_manifest-000003.json"), "w").close()
        with pytest.raises(ValueError, match="fast-forward-only"):
            publish_branch(path, "wip")
        # the rival resolves ABOVE the branch → publish remains blocked
        # (2 <= main head 3); a fresh branch write above it publishes
        os.remove(os.path.join(path, "_manifest-000003.json"))
        assert publish_branch(path, "wip") == [2]
        got = read_committed(spark, path, SCHEMA)
        assert sorted(r["k"] for r in got.collect()) == [1, 2]

class TestStaleClaimVacuum:
    def test_fresh_claim_guards_young_stale_claim_collected(self, tmp_path):
        path = str(tmp_path / "stale")
        os.makedirs(path)
        _commit_meta(path, "a")
        # crashed writer: claimed version 2, content never landed
        open(os.path.join(path, "_manifest-000002.json"), "w").close()
        # without a TTL the claim counts as in-flight and guards GC
        stats = vacuum_snapshots(path)
        assert stats["in_flight_commits"] == 1
        assert stats["stale_claims_deleted"] == 0
        # young claim under a generous TTL: still guarded
        stats = vacuum_snapshots(path, stale_claim_ttl_s=3600)
        assert stats["in_flight_commits"] == 1
        assert os.path.exists(os.path.join(path, "_manifest-000002.json"))
        # aged out (ttl 0): collected, the version hole opens
        stats = vacuum_snapshots(path, stale_claim_ttl_s=0.0)
        assert stats["stale_claims_deleted"] == 1
        assert stats["in_flight_commits"] == 0
        assert not os.path.exists(os.path.join(path, "_manifest-000002.json"))
        assert table_versions(path) == [1]
        # the freed TOP version may be reclaimed (same rule as abandoned
        # branches); holes BELOW a higher committed version stay
        # permanent because commit claims 1+max
        _commit_meta(path, "b")
        assert table_versions(path) == [1, 2]

    def test_stale_claims_staging_residue_becomes_orphan(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "stale2")
        _write(spark, path, [(1, "a")])
        staging = os.path.join(path, "_staging")
        # the crashed writer's task output: staged but never referenced
        with open(os.path.join(staging, "part-crashed.parquet"), "w") as f:
            f.write("x")
        open(os.path.join(path, "_manifest-000002.json"), "w").close()
        # guarded while the claim looks in-flight
        stats = vacuum_snapshots(path)
        assert stats["orphans_deleted"] == 0
        # stale claim collected → residue is GC-able in the same run
        stats = vacuum_snapshots(path, stale_claim_ttl_s=0.0)
        assert stats["stale_claims_deleted"] == 1
        assert stats["orphans_deleted"] == 1
        assert read_committed(spark, path, SCHEMA).count() == 1


class TestBucketedSnapshot:
    def test_layout_recorded_and_join_is_exchange_free(
        self, spark, tmp_path
    ):
        import uuid as _uuid

        path_a = str(tmp_path / "bkt_a")
        path_b = str(tmp_path / "bkt_b")
        _write(spark, path_a, [(i, f"a{i}") for i in range(64)], 4)
        _write(spark, path_b, [(i, f"b{i}") for i in range(0, 64, 2)], 4)
        compact_snapshots(
            spark, path_a, SCHEMA, bucket_by="k", n_buckets=4
        )
        compact_snapshots(
            spark, path_b, SCHEMA, bucket_by="k", n_buckets=4
        )
        from olap_project_spark.export.manifest_sink import _log

        m = _log(path_a)[-1][1]
        assert m["bucket_by"] == "k" and m["n_buckets"] == 4
        assert all(f.startswith(m["layout_dir"] + "/") for f in m["files"])
        tag = _uuid.uuid4().hex[:8]
        ta = register_bucketed_table(spark, path_a, f"bkt_a_{tag}")
        tb = register_bucketed_table(spark, path_b, f"bkt_b_{tag}")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table(ta).join(spark.table(tb), "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            rows = j.count()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old
            )
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning(k" not in plan
        assert rows == 32
        # the bucketed read returns exactly the manifest-committed rows
        a = sorted(
            r["k"] for r in read_committed(spark, path_a, SCHEMA).collect()
        )
        b = sorted(r["k"] for r in spark.table(ta).collect())
        assert a == b

    def test_registration_reconciles_unlisted_residue(
        self, spark, tmp_path
    ):
        import uuid as _uuid

        path = str(tmp_path / "bkt_rec")
        _write(spark, path, [(i, f"v{i}") for i in range(16)], 2)
        compact_snapshots(spark, path, SCHEMA, bucket_by="k", n_buckets=2)
        from olap_project_spark.export.manifest_sink import _log

        layout_dir = _log(path)[-1][1]["layout_dir"]
        loc = os.path.join(path, "_staging", layout_dir)
        # residue of a retried task attempt: present in the dir, absent
        # from the manifest — a dir-scoped read would double-count it
        residue = os.path.join(loc, "part-retryghost_00001.parquet")
        with open(residue, "w") as f:
            f.write("x")
        t = register_bucketed_table(
            spark, path, f"bkt_rec_{_uuid.uuid4().hex[:8]}"
        )
        assert not os.path.exists(residue)
        assert spark.table(t).count() == 16

    def test_register_requires_bucketed_rewrite(self, spark, tmp_path):
        path = str(tmp_path / "bkt_req")
        _write(spark, path, [(1, "a")])
        with pytest.raises(ValueError, match="not a bucketed rewrite"):
            register_bucketed_table(spark, path, "nope_t")

    def test_vacuum_walks_bucket_subdirs(self, spark, tmp_path):
        path = str(tmp_path / "bkt_vac")
        _write(spark, path, [(i, f"v{i}") for i in range(8)], 2)
        compact_snapshots(spark, path, SCHEMA, bucket_by="k", n_buckets=2)
        from olap_project_spark.export.manifest_sink import _log

        layout_dir = _log(path)[-1][1]["layout_dir"]
        loc = os.path.join(path, "_staging", layout_dir)
        orphan = os.path.join(loc, "part-zombie_00009.parquet")
        with open(orphan, "w") as f:
            f.write("x")
        stats = vacuum_snapshots(path)
        assert stats["orphans_deleted"] == 1
        assert not os.path.exists(orphan)
        # expiry past the rewrite removes the PRE-compaction files and
        # keeps the bucketed subdir intact
        assert stats["expired_manifests"] == 1
        assert os.path.isdir(loc) and len(os.listdir(loc)) == 2
        got = read_committed(spark, path, SCHEMA)
        assert got.count() == 8

    def test_writer_option_validation(self, spark, tmp_path):
        path = str(tmp_path / "bkt_bad")
        df = spark.createDataFrame([(1, "a")], SCHEMA)
        with pytest.raises(Exception, match="bucket_by and n_buckets"):
            save_manifest(df, path, bucket_by="k")
        with pytest.raises(Exception, match="subdir"):
            save_manifest(df, path, bucket_by="k", n_buckets="2")


class TestPartialCompaction:
    NUM_SCHEMA = "k bigint, v double"

    def _build(self, spark, path):
        for q in range(4):
            save_manifest(
                spark.range(q * 1000, (q + 1) * 1000)
                .selectExpr("id as k", "cast(id % 7 as double) as v")
                .repartition(2),
                path,
            )

    def test_range_scoped_rewrite(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            _committed_files,
            compact_range,
            plan_pruned_files,
        )

        path = str(tmp_path / "pc")
        self._build(spark, path)
        assert len(_committed_files(path)) == 8
        res = compact_range(
            spark, path, self.NUM_SCHEMA, "k", 1000, 2999, n_files=2
        )
        assert res == {
            "version": 5,
            "n_rewritten": 4,
            "n_retained": 4,
            "n_new": 2,
        }
        # full state intact, time travel intact
        now = read_committed(spark, path, self.NUM_SCHEMA)
        assert now.count() == 4000
        assert (
            read_committed(
                spark, path, self.NUM_SCHEMA, as_of=4
            ).count()
            == 4000
        )
        # the compacted range's zone maps are tight: a point probe
        # inside it keeps exactly one of the six live files
        keep, total = plan_pruned_files(path, "k", 1500, 1600)
        assert total == 6 and len(keep) == 1
        # the rewrite lists the full consolidated state: 4 retained
        # (byte-identical, same names as before) + 2 new files
        before_rewrite = {
            f for f, _ in _committed_files(path, as_of=4)
        }
        live = {f for f, _ in _committed_files(path)}
        assert len(live) == 6
        assert len(live & before_rewrite) == 4
        # vacuum expiry keeps every file the partial rewrite references
        stats = vacuum_snapshots(path)
        assert stats["expired_manifests"] == 4
        assert (
            read_committed(spark, path, self.NUM_SCHEMA).count() == 4000
        )

    def test_rejects_delete_log_and_noop_range(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            compact_range,
            delete_where,
        )

        path = str(tmp_path / "pc2")
        self._build(spark, path)
        # no-op: nothing overlaps a range beyond the data
        res = compact_range(
            spark, path, self.NUM_SCHEMA, "k", 50_000, 60_000
        )
        assert res["n_rewritten"] == 0 and res["n_new"] == 0
        assert res["version"] == 4  # no commit happened
        delete_where(
            spark, path, spark.range(0, 10).selectExpr("id as k")
        )
        with pytest.raises(ValueError, match="resurrect"):
            compact_range(spark, path, self.NUM_SCHEMA, "k", 0, 100)


class TestRowLevelCDF:
    NUM_SCHEMA = "k bigint, v double"

    def test_insert_delete_reinsert_ledger(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import (
            delete_where,
            read_changes,
        )

        path = str(tmp_path / "cdf")
        for q in range(2):
            save_manifest(
                spark.range(q * 100, (q + 1) * 100)
                .selectExpr("id as k", "cast(1.0 as double) as v")
                .repartition(1),
                path,
            )
        delete_where(
            spark, path, spark.range(0, 50).selectExpr("id as k")
        )
        save_manifest(
            spark.range(0, 10)
            .selectExpr("id as k", "cast(2.0 as double) as v")
            .repartition(1),
            path,
        )
        ch = read_changes(spark, path, self.NUM_SCHEMA, 0, 4)
        got = {
            (r["_change_type"], r["_commit_version"]): r["count"]
            for r in ch.groupBy("_change_type", "_commit_version")
            .count()
            .collect()
        }
        assert got == {
            ("insert", 1): 100,
            ("insert", 2): 100,
            ("delete", 3): 50,
            ("insert", 4): 10,
        }
        # the deleted rows carry their full pre-delete values
        dels = ch.filter("_change_type = 'delete'")
        assert dels.agg({"v": "sum"}).collect()[0][0] == 50.0
        # consuming only the tail of the feed works too
        tail = read_changes(spark, path, self.NUM_SCHEMA, 2, 4)
        assert tail.count() == 60
        # final state agrees with the ledger
        assert (
            read_committed(spark, path, self.NUM_SCHEMA).count() == 160
        )

    def test_rewrite_in_range_raises(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import read_changes

        path = str(tmp_path / "cdf2")
        _write(spark, path, [(1, "a")])
        compact_snapshots(spark, path, SCHEMA)
        with pytest.raises(ValueError, match="compaction reorganizes"):
            read_changes(spark, path, SCHEMA, 0, 2).count()
        # an empty range yields an empty, well-typed feed
        empty = read_changes(spark, path, SCHEMA, 2, 2)
        assert empty.count() == 0
        assert "_change_type" in empty.columns


class TestMergeUpsert:
    NUM_SCHEMA = "k bigint, v double"

    def test_upsert_replaces_and_inserts_without_rewrite(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            merge_upsert,
            table_files,
        )

        path = str(tmp_path / "mu")
        save_manifest(
            spark.range(0, 100)
            .selectExpr("id as k", "cast(1.0 as double) as v")
            .repartition(2),
            path,
        )
        before = {f["file_name"] for f in table_files(path)}
        upd = spark.range(50, 120).selectExpr(
            "id as k", "cast(9.0 as double) as v"
        )
        res = merge_upsert(spark, path, upd, ["k"])
        assert res["n_updates"] == 70
        # ONE atomic commit: base was version 1, the merge IS version 2
        assert res["version"] == 2
        back = read_committed(spark, path, self.NUM_SCHEMA)
        assert back.count() == 120  # 50 kept + 70 upserted
        assert back.filter("v = 9.0").count() == 70
        assert back.filter("v = 1.0").count() == 50
        # merge-on-read: every original data file is still live,
        # untouched — the tombstones are a key projection of the
        # merge's own files, the upsert rows an append
        after = {f["file_name"] for f in table_files(path)}
        assert before <= after

    def test_upsert_then_compaction_materializes(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import merge_upsert

        path = str(tmp_path / "mu2")
        save_manifest(
            spark.range(0, 20)
            .selectExpr("id as k", "cast(1.0 as double) as v")
            .repartition(1),
            path,
        )
        merge_upsert(
            spark,
            path,
            spark.range(0, 5).selectExpr(
                "id as k", "cast(2.0 as double) as v"
            ),
            ["k"],
        )
        compact_snapshots(spark, path, self.NUM_SCHEMA)
        back = read_committed(spark, path, self.NUM_SCHEMA)
        assert back.count() == 20
        assert back.filter("v = 2.0").count() == 5


class TestCompactionPolicyAdvisor:
    NUM_SCHEMA = "k bigint, v double"

    def test_flags_small_file_range_and_feeds_compact_range(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            compact_range,
            plan_compaction_ranges,
        )

        path = str(tmp_path / "policy")
        for i in range(6):  # small-file storm in the low range
            save_manifest(
                spark.range(i * 50, (i + 1) * 50)
                .selectExpr("id as k", "cast(0.0 as double) as v")
                .repartition(1),
                path,
            )
        save_manifest(
            spark.range(10_000, 20_000)
            .selectExpr("id as k", "cast(0.0 as double) as v")
            .repartition(1),
            path,
        )
        plan = plan_compaction_ranges(
            path, "k", n_ranges=4, min_files=3, max_avg_rows=1000
        )
        flagged = [r for r in plan if r["needs_compaction"]]
        assert len(flagged) == 1
        assert flagged[0]["file_count"] == 6
        assert flagged[0]["total_rows"] == 300
        res = compact_range(
            spark,
            path,
            self.NUM_SCHEMA,
            "k",
            flagged[0]["range_lo"],
            flagged[0]["range_hi"],
            n_files=1,
        )
        assert res["n_rewritten"] == 6 and res["n_new"] == 1
        plan2 = plan_compaction_ranges(
            path, "k", n_ranges=4, min_files=3, max_avg_rows=1000
        )
        assert not any(r["needs_compaction"] for r in plan2)
        assert (
            read_committed(spark, path, self.NUM_SCHEMA).count()
            == 10_300
        )


class TestSnapshotTags:
    def test_tag_resolves_forever_and_is_immutable(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            drop_tag,
            list_tags,
            read_tag,
            tag_snapshot,
        )

        path = str(tmp_path / "tags")
        _write(spark, path, [(1, "a")])
        assert tag_snapshot(path, "baseline") == 1
        _write(spark, path, [(2, "b")])
        tag_snapshot(path, "after-load", version=2)
        assert list_tags(path) == {"baseline": 1, "after-load": 2}
        got = read_committed(
            spark, path, SCHEMA, as_of=read_tag(path, "baseline")
        )
        assert [r["k"] for r in got.collect()] == [1]
        with pytest.raises(ValueError, match="already exists"):
            tag_snapshot(path, "baseline")
        with pytest.raises(ValueError, match="not committed"):
            tag_snapshot(path, "ghost", version=99)
        assert drop_tag(path, "baseline") is True
        assert drop_tag(path, "baseline") is False
        assert list_tags(path) == {"after-load": 2}


class TestNestedTypes:
    def test_array_and_struct_columns_round_trip(self, spark, tmp_path):
        from olap_project_spark.export.manifest_sink import table_schema

        path = str(tmp_path / "nested")
        df = spark.range(5).selectExpr(
            "id as k",
            "named_struct('a', id, 'b', cast(id as string)) as s",
            "array(cast(id as float), cast(id + 1 as float)) as arr",
        )
        save_manifest(df.repartition(1), path)
        # schema DISCOVERY round-trips the nested types (nullability
        # normalizes to nullable on read, as in every table format)
        back = read_committed(spark, path, table_schema(path))
        assert back.schema.simpleString() == df.schema.simpleString()
        rows = back.orderBy("k").collect()
        assert rows[2]["s"]["b"] == "2" and list(rows[2]["arr"]) == [2.0, 3.0]
        # zone maps exist for the scalar, not the complex columns
        from olap_project_spark.export.manifest_sink import _committed_files

        stats = dict(_committed_files(path))
        (only_stats,) = stats.values()
        assert "k" in only_stats and "s" not in only_stats
        assert "arr" not in only_stats


# ---------------------------------------------------------------------------
# Round 10: arbitrary-interleaving discipline over the NEW surface —
# merge-on-read upserts, range-scoped partial compaction, crashed
# claims + TTL vacuum, and named tags — with a pure-Python model of the
# committed state (and each tag's pinned state) checked after every op.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

r10_op = st.sampled_from(
    ["append", "upsert", "compact_range", "compact_full",
     "stale_claim", "vacuum_ttl", "tag", "maintain"]
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(r10_op, min_size=2, max_size=7))
def test_round10_lifecycle_preserves_state_and_tags(
    spark, tmp_path, ops
):
    from olap_project_spark.export.manifest_sink import (
        _log,
        compact_range,
        compact_snapshots,
        merge_upsert,
        read_committed,
        read_tag,
        tag_snapshot,
        table_versions,
        vacuum_snapshots,
    )

    path = str(tmp_path / ("r10_" + "".join(o[0] for o in ops)))
    model: dict[int, str] = {}
    next_k = 0
    tags: dict[str, dict[int, str]] = {}  # name -> pinned state
    tag_versions: dict[str, int] = {}

    def unmaterialized_delete() -> bool:
        log = _log(path)
        last_rw = -1
        for i, (_v, m) in enumerate(log):
            if m.get("kind", "append") == "rewrite":
                last_rw = i
        return any(
            m.get("kind", "append") in ("delete", "merge")
            for _v, m in log[last_rw + 1 :]
        )

    for op in ops:
        if op == "append":
            rows = [(next_k + i, f"r{next_k + i}") for i in range(2)]
            next_k += 2
            _write(spark, path, rows)
            model.update(rows)
        elif op == "upsert":
            if not model:
                continue
            k0 = min(model)
            upd = [(k0, f"u{k0}"), (next_k, f"n{next_k}")]
            next_k += 1
            merge_upsert(
                spark,
                path,
                spark.createDataFrame(upd, SCHEMA).repartition(1),
                ["k"],
            )
            model.update(upd)
        elif op == "compact_range":
            if not table_versions(path) or not model:
                continue
            mid = sorted(model)[len(model) // 2]
            if unmaterialized_delete():
                with pytest.raises(ValueError, match="resurrect"):
                    compact_range(spark, path, SCHEMA, "k", 0, mid)
            else:
                compact_range(spark, path, SCHEMA, "k", 0, mid)
        elif op == "compact_full":
            if not table_versions(path):
                continue
            compact_snapshots(spark, path, SCHEMA)
        elif op == "stale_claim":
            if not os.path.isdir(path):
                continue
            v = 1 + max(table_versions(path), default=0)
            claim = os.path.join(path, f"_manifest-{v:06d}.json")
            if not os.path.exists(claim):
                open(claim, "w").close()
        elif op == "vacuum_ttl":
            if not os.path.isdir(path):
                continue
            vacuum_snapshots(path, stale_claim_ttl_s=0.0)
            # expiry may have shortened time travel: drop tags whose
            # version fell below the retained floor
            kept = table_versions(path)
            floor = min(kept, default=0)
            for name in list(tag_versions):
                if tag_versions[name] < floor:
                    tags.pop(name)
                    tag_versions.pop(name)
        elif op == "maintain":
            # one scheduler pass of the auto-maintenance loop —
            # materialize tombstones, compact flagged ranges, vacuum —
            # must preserve the model and every retained tag
            if not table_versions(path) or not model:
                continue
            from olap_project_spark.export.manifest_sink import (
                MaintenancePolicy,
                maintain,
            )

            maintain(
                spark,
                path,
                SCHEMA,
                MaintenancePolicy(
                    col="k",
                    n_ranges=4,
                    min_files=3,
                    max_avg_rows=10,
                    n_files_per_range=1,
                ),
            )
            kept = table_versions(path)
            floor = min(kept, default=0)
            for name in list(tag_versions):
                if tag_versions[name] < floor:
                    tags.pop(name)
                    tag_versions.pop(name)
        elif op == "tag":
            if not table_versions(path):
                continue
            name = f"t{len(tags)}_{next_k}"
            tag_versions[name] = tag_snapshot(path, name)
            tags[name] = dict(model)
        if os.path.isdir(path):
            got = {
                r["k"]: r["v"]
                for r in read_committed(spark, path, SCHEMA).collect()
            }
            assert got == model, op
            for name, pinned in tags.items():
                at_tag = {
                    r["k"]: r["v"]
                    for r in read_committed(
                        spark, path, SCHEMA,
                        as_of=read_tag(path, name),
                    ).collect()
                }
                assert at_tag == pinned, (op, name)


class TestReviewFixes:
    """Regression pins for the round-10 self-review findings."""

    def test_branch_rewrite_never_anchors_vacuum(self, spark, tmp_path):
        """An unpublished WAP branch's rewrite is invisible to main —
        vacuum must not expire main history against it (it would empty
        the table for every main reader)."""
        path = str(tmp_path / "fix_vac")
        _write(spark, path, [(1, "a")])
        _write(spark, path, [(2, "b")])
        # a branch stages a rewrite-tagged commit
        save_manifest(
            spark.createDataFrame([(9, "staged")], SCHEMA).repartition(1),
            path,
            branch="audit",
            kind="rewrite",
        )
        stats = vacuum_snapshots(registered_path := path)
        assert stats["expired_manifests"] == 0  # nothing anchored on it
        with pytest.raises(ValueError, match="main rewrite"):
            vacuum_snapshots(registered_path, keep_from=3)
        got = read_committed(spark, path, SCHEMA)
        assert sorted(r["k"] for r in got.collect()) == [1, 2]

    def test_stream_head_holds_below_fileless_claim(
        self, spark, tmp_path
    ):
        """With a conditional-PUT claimer, an in-flight claim has NO
        file on disk — vacuum must still count it in flight."""
        path = str(tmp_path / "fix_cput")
        _write(spark, path, [(1, "a")])
        store = {f"{path}/_manifest-000001.json"}  # v1 already committed
        lock = threading.Lock()

        def put_if_absent(key):
            with lock:
                if key in store:
                    return False
                store.add(key)
                return True

        def list_claimed(p):
            pre = f"{p}/_manifest-"
            return [
                int(k[len(pre) :].split(".")[0])
                for k in store
                if k.startswith(pre)
            ]

        prev = set_version_claimer(
            ConditionalPutClaimer(put_if_absent, list_claimed)
        )
        try:
            # rival claims v2 in the STORE only; no file exists
            store.add(f"{path}/_manifest-000002.json")
            # vacuum treats the file-less claim as in-flight: no GC
            staging = os.path.join(path, "_staging")
            with open(os.path.join(staging, "part-live.parquet"), "wb") as f:
                f.write(b"live")
            stats = vacuum_snapshots(path)
            assert stats["in_flight_commits"] == 1
            assert stats["orphans_deleted"] == 0
        finally:
            set_version_claimer(prev)

    def test_policy_advisor_rejects_string_zone_maps(
        self, spark, tmp_path
    ):
        from olap_project_spark.export.manifest_sink import (
            plan_compaction_ranges,
        )

        path = str(tmp_path / "fix_str")
        _write(spark, path, [(1, "a"), (2, "b")])
        with pytest.raises(ValueError, match="NUMERIC zone maps"):
            plan_compaction_ranges(path, "v")

    def test_merge_upsert_reports_committed_versions(
        self, spark, tmp_path
    ):
        """API return values use the committed-main axis: a rival's
        in-flight claim above our commit must not leak into the
        reported versions."""
        from olap_project_spark.export.manifest_sink import merge_upsert

        path = str(tmp_path / "fix_ver")
        save_manifest(
            spark.range(0, 10)
            .selectExpr("id as k", "cast(1.0 as double) as v")
            .repartition(1),
            path,
        )
        res = merge_upsert(
            spark,
            path,
            spark.range(0, 3).selectExpr(
                "id as k", "cast(2.0 as double) as v"
            ),
            ["k"],
        )
        # rival claims the NEXT version and stalls
        open(os.path.join(path, "_manifest-000003.json"), "w").close()
        assert res["version"] == 2 and res["n_updates"] == 3
        assert res["n_data_files"] >= 1
        from olap_project_spark.export.manifest_sink import (
            committed_versions,
            tag_snapshot,
        )

        assert committed_versions(path) == [1, 2]
        with pytest.raises(ValueError, match="not committed"):
            tag_snapshot(path, "x", version=3)


class TestReviewFixesB:
    """Second self-review batch: bucket-layout validation, float-axis
    advisor ranges, WAP-staged merge."""

    NUM_SCHEMA = "k bigint, v double"

    def test_under_partitioned_bucketed_commit_rejected(
        self, spark, tmp_path
    ):
        """An input repartitioned fewer ways than n_buckets must fail
        AT COMMIT, before a false bucket layout becomes a manifest an
        exchange-free join would silently trust."""
        path = str(tmp_path / "fixb_bkt")
        df = spark.range(0, 100).selectExpr(
            "id as k", "cast(1.0 as double) as v"
        )
        with pytest.raises(Exception, match="not repartitioned"):
            save_manifest(
                df.repartition(4, "k"),
                path,
                kind="rewrite",
                bucket_by="k",
                n_buckets="8",
                subdir="bkt-test",
            )
        # nothing committed: the table stays empty
        assert table_versions(path) == []

    def test_advisor_ranges_are_gap_free_on_float_axes(
        self, spark, tmp_path
    ):
        """Float zone maps: a file sitting strictly between two integer
        '-1' style range ends must still land in exactly one range."""
        from olap_project_spark.export.manifest_sink import (
            plan_compaction_ranges,
        )

        path = str(tmp_path / "fixb_float")
        # three files: [0,1], [1.2,1.9] (the would-be gap), [8,10]
        for lo_, hi_ in ((0.0, 1.0), (1.2, 1.9), (8.0, 10.0)):
            df = spark.createDataFrame(
                [(1, lo_), (2, hi_)], "k bigint, x double"
            )
            save_manifest(df.repartition(1), path)
        plan = plan_compaction_ranges(
            path, "x", n_ranges=8, min_files=1, max_avg_rows=10
        )
        counted = sum(r["file_count"] for r in plan)
        assert counted >= 3  # every file in at least one range

    def test_merge_upsert_stages_on_wap_branch(self, spark, tmp_path):
        """branch= stages the ONE atomic merge snapshot invisibly, and
        publishing flips it into main with a single manifest swap."""
        from olap_project_spark.export.manifest_sink import merge_upsert

        path = str(tmp_path / "fixb_wap")
        save_manifest(
            spark.range(0, 10)
            .selectExpr("id as k", "cast(1.0 as double) as v")
            .repartition(1),
            path,
        )
        res = merge_upsert(
            spark,
            path,
            spark.range(0, 4).selectExpr(
                "id as k", "cast(9.0 as double) as v"
            ),
            ["k"],
            branch="merge-wip",
        )
        assert res["version"] == 2 and res["n_updates"] == 4
        # main sees NOTHING until the publish
        main = read_committed(spark, path, self.NUM_SCHEMA)
        assert main.filter("v = 9.0").count() == 0
        assert main.count() == 10
        # the branch audit sees the merged state
        staged = read_committed(
            spark, path, self.NUM_SCHEMA, branch="merge-wip"
        )
        assert staged.filter("v = 9.0").count() == 4
        assert publish_branch(path, "merge-wip") == [2]
        after = read_committed(spark, path, self.NUM_SCHEMA)
        assert after.count() == 10
        assert after.filter("v = 9.0").count() == 4

