"""LOG CHECKPOINTS — the Delta _last_checkpoint / Iceberg
metadata-file mechanism: one JSON bundles the stable prefix of the
manifest log so read planning parses 1 file + the tail. A checkpoint
is a pure PARSE CACHE: reads are driven by the physical listing and
fall back per-version to the files, so it can never change WHAT is
read — these tests pin that invariance under appends, tombstones,
time travel, branches, restores, vacuum, and corruption."""

from __future__ import annotations

import json
import os

import pytest

from olap_project_spark.export.manifest_sink import (
    MaintenancePolicy,
    checkpoint_log,
    compact_snapshots,
    delete_where,
    maintain,
    metadata_aggregate,
    publish_branch,
    read_committed,
    restore_table,
    save_manifest,
    table_schema,
    vacuum_snapshots,
)

SCHEMA = "k int, v string"


def _write(spark, path, rows, branch=None):
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    save_manifest(df, path, **({"branch": branch} if branch else {}))


def _state(spark, path):
    return sorted(
        (r.k, r.v)
        for r in read_committed(spark, path, table_schema(path)).collect()
    )


def _checkpoints(path):
    return sorted(
        e for e in os.listdir(path) if e.startswith("_logcheckpoint-")
    )


class TestCheckpointSemantics:
    def test_reads_identical_before_and_after(self, spark, tmp_path):
        path = str(tmp_path / "t")
        for i in range(5):
            _write(spark, path, [(i, f"r{i}")])
        delete_where(
            spark, path, spark.createDataFrame([(1,)], "k int")
        )
        before = _state(spark, path)
        ck = checkpoint_log(path)
        assert ck["version"] == 6 and ck["bundled"] == 6
        assert os.path.exists(
            os.path.join(path, "_logcheckpoint-000006.json")
        )
        assert _state(spark, path) == before
        # time travel below the checkpoint still answers from the cache
        assert (
            read_committed(spark, path, table_schema(path), as_of=2)
            .count()
            == 2
        )
        # metadata folds read through the cache identically
        with pytest.raises(ValueError, match="tombstones"):
            metadata_aggregate(path)  # unmaterialized delete: still strict

    def test_appends_after_checkpoint_visible(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        checkpoint_log(path)
        _write(spark, path, [(2, "b")])
        assert _state(spark, path) == [(1, "a"), (2, "b")]
        # idempotent: nothing new below the stable head -> no-op file
        ck2 = checkpoint_log(path)
        assert ck2["version"] == 2
        ck3 = checkpoint_log(path)
        assert ck3["version"] is None

    def test_branch_commits_stay_out_and_publish_correctly(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        checkpoint_log(path)
        _write(spark, path, [(9, "staged")], branch="audit")
        # the staged commit postdates the checkpoint: main blind to it
        assert _state(spark, path) == [(1, "a")]
        checkpoint_log(path)  # stable head excludes the branch commit
        publish_branch(path, "audit")
        assert _state(spark, path) == [(1, "a"), (9, "staged")]

    def test_restore_and_vacuum_compose(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        _write(spark, path, [(2, "b")])
        checkpoint_log(path)
        restore_table(path, 1)
        assert _state(spark, path) == [(1, "a")]
        compact_snapshots(spark, path, None)
        vacuum_snapshots(path)
        # expired versions never resurrect from the cache (the listing
        # drives reads), and the post-vacuum state is intact
        assert _state(spark, path) == [(1, "a")]

    def test_corrupt_checkpoint_degrades_to_files(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        ck = checkpoint_log(path)
        f = os.path.join(path, f"_logcheckpoint-{ck['version']:06d}.json")
        with open(f, "w") as fh:
            fh.write("{not json")
        assert _state(spark, path) == [(1, "a")]

    def test_supersession_keeps_two_generations(self, spark, tmp_path):
        """checkpoint_log retains the newest TWO bundles (keep=2): the
        previous generation survives one churn so a reader that listed
        the directory just before the churn still opens a live file.
        A third churn retires the oldest."""
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        checkpoint_log(path)
        _write(spark, path, [(2, "b")])
        checkpoint_log(path)
        assert _checkpoints(path) == [
            "_logcheckpoint-000001.json",
            "_logcheckpoint-000002.json",
        ]
        _write(spark, path, [(3, "c")])
        checkpoint_log(path)
        assert _checkpoints(path) == [
            "_logcheckpoint-000002.json",
            "_logcheckpoint-000003.json",
        ]
        # keep=1 restores the old retire-immediately behavior
        _write(spark, path, [(4, "d")])
        checkpoint_log(path, keep=1)
        assert _checkpoints(path) == ["_logcheckpoint-000004.json"]

    def test_maintain_writes_checkpoint_on_policy(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        for i in range(3):
            _write(spark, path, [(i, f"r{i}")])
        delete_where(
            spark, path, spark.createDataFrame([(0,)], "k int")
        )
        report = maintain(
            spark,
            path,
            None,
            MaintenancePolicy(col="k", vacuum=False, checkpoint=True),
        )
        assert any(a.startswith("checkpoint@") for a in report["actions"])
        assert report["checkpoint"]["version"] is not None
        assert _state(spark, path) == [(1, "r1"), (2, "r2")]

    def test_racing_retirement_falls_back_to_previous_bundle(
        self, spark, tmp_path, monkeypatch
    ):
        """A reader that raced one checkpoint churn (the bundle it
        listed vanished before the open) plans from the RETAINED
        previous generation, not a per-file parse of the whole log —
        pinned by counting exactly which log .json files a cold plan
        opens in each scenario."""
        import builtins

        from olap_project_spark.export import manifest_sink as ms

        path = str(tmp_path / "t")
        for i in range(3):
            _write(spark, path, [(i, f"r{i}")])
        checkpoint_log(path)  # gen A: bundles v1-3
        _write(spark, path, [(3, "r3")])
        checkpoint_log(path)  # gen B: bundles v1-4; A retained (keep=2)
        _write(spark, path, [(4, "r4")])  # tail: v5
        assert _checkpoints(path) == [
            "_logcheckpoint-000003.json",
            "_logcheckpoint-000004.json",
        ]
        expected = _state(spark, path)

        opens: list[str] = []
        real_open = builtins.open

        def counting(file, *a, **kw):
            f = str(file)
            if f.startswith(path) and f.endswith(".json"):
                opens.append(os.path.basename(f))
            return real_open(file, *a, **kw)

        monkeypatch.setattr(builtins, "open", counting)
        # cold plan, both generations live: newest bundle + the tail
        ms.clear_log_cache()
        versions = [v for v, _ in ms._log(path)]
        assert opens == [
            "_logcheckpoint-000004.json",
            "_manifest-000005.json",
        ]
        # the race: gen B retired under the reader -> gen A serves,
        # and only the two post-A manifests are parsed per-file
        os.remove(os.path.join(path, "_logcheckpoint-000004.json"))
        opens.clear()
        ms.clear_log_cache()
        versions_raced = [v for v, _ in ms._log(path)]
        assert opens == [
            "_logcheckpoint-000003.json",
            "_manifest-000004.json",
            "_manifest-000005.json",
        ]
        assert versions_raced == versions
        monkeypatch.undo()
        assert _state(spark, path) == expected

    def test_vacuum_gcs_superseded_checkpoints(self, spark, tmp_path):
        """vacuum — the maintenance window checkpoint retention defers
        to — collects every generation but the newest and reports the
        count; reads are unchanged."""
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        checkpoint_log(path)
        _write(spark, path, [(2, "b")])
        checkpoint_log(path)
        assert len(_checkpoints(path)) == 2
        before = _state(spark, path)
        stats = vacuum_snapshots(path)
        assert stats["expired_checkpoints"] == 1
        assert _checkpoints(path) == ["_logcheckpoint-000002.json"]
        assert _state(spark, path) == before

    def test_era_reads_through_the_cache(self, spark, tmp_path):
        path = str(tmp_path / "t")
        _write(spark, path, [(1, "a")])
        _write(spark, path, [(2, "b")])
        checkpoint_log(path)
        rows = sorted(
            (r.k, r.v)
            for r in read_committed(
                spark, path, table_schema(path)
            ).collect()
        )
        assert rows == [(1, "a"), (2, "b")]
        agg = metadata_aggregate(path, minmax_cols=["v"])
        assert agg["cols"]["v"] == {
            "nulls": 0,
            "non_null": 2,
            "min": "a",
            "max": "b",
        }


# ---------------------------------------------------------------------------
# Property: under ANY interleaving of appends / deletes / checkpoints /
# compactions / vacuums, every read equals a plain Python model — the
# checkpoint+retention+GC lifecycle can never change WHAT is read.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_op = st.sampled_from(
    ["append", "delete", "checkpoint", "compact", "vacuum"]
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_op, min_size=2, max_size=6))
def test_reads_invariant_under_checkpoint_lifecycle_interleavings(
    spark, tmp_path, ops
):
    import uuid as _uuid

    path = str(tmp_path / f"ckv_{_uuid.uuid4().hex[:12]}")
    model: dict[int, str] = {}
    next_k = 0
    started = False
    for op in ops:
        if op == "append" or not started:
            rows = [(next_k + i, f"r{next_k + i}") for i in range(2)]
            next_k += 2
            _write(spark, path, rows)
            model.update(rows)
            started = True
        elif op == "delete":
            if not model:
                continue
            victim = min(model)
            delete_where(
                spark,
                path,
                spark.createDataFrame([(victim,)], "k int"),
            )
            model.pop(victim)
        elif op == "checkpoint":
            checkpoint_log(path)
        elif op == "compact":
            compact_snapshots(spark, path, None)
        elif op == "vacuum":
            vacuum_snapshots(path)
        assert _state(spark, path) == sorted(model.items())
