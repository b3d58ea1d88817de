"""The in-process parsed-log cache (manifest_sink._scan_log). Every
driver-side planning call funnels through _log()/_parse_all(); the
cache makes repeat calls one stat pass instead of a full checkpoint +
tail re-parse, validated by a (name, mtime_ns, size) fingerprint so
ANY log mutation — new commit, claim landing, branch publish rewriting
a manifest IN PLACE, vacuum, new checkpoint — invalidates it even when
made by another process. These tests pin: hits on unchanged logs,
invalidation on every mutation shape, and content identity with the
uncached parse."""

from __future__ import annotations

import json
import os

from olap_project_spark.export.manifest_sink import (
    _SCAN_STATS,
    _log,
    _parse_all,
    checkpoint_log,
    clear_log_cache,
    delete_where,
    publish_branch,
    read_committed,
    save_manifest,
    table_schema,
    vacuum_snapshots,
)

SCHEMA = "k int, v string"


def _write(spark, path, rows, branch=None):
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    save_manifest(df, path, **({"branch": branch} if branch else {}))


def _stats():
    return dict(_SCAN_STATS)


def test_repeat_reads_hit_cache(spark, tmp_path):
    spark, path = spark, str(tmp_path / "t")
    _write(spark, path, [(1, "a"), (2, "b")])
    clear_log_cache()
    first = _log(path)
    after_first = _stats()
    assert after_first["rebuilds"] == 1
    # a burst of planning calls — log, raw log, as_of, parse_all —
    # must all serve from the one cached parse
    again = _log(path)
    _log(path, raw=True)
    _log(path, as_of=1)
    _parse_all(path)
    s = _stats()
    assert s["rebuilds"] == 1
    assert s["hits"] >= 4
    # and the cached list is the same object, not a re-parse
    assert [v for v, _ in again] == [v for v, _ in first]


def test_new_commit_extends_not_rebuilds(spark, tmp_path):
    """Append-only growth takes the INCREMENTAL path: the new manifest
    is parsed and appended to the cached list — one file open, not a
    full re-parse — turning a lifecycle session's write→plan loop
    from O(log²) total parse work into O(log)."""
    spark, path = spark, str(tmp_path / "t")
    _write(spark, path, [(1, "a")])
    clear_log_cache()
    assert len(_log(path)) == 1
    _write(spark, path, [(2, "b")])
    log = _log(path)
    assert len(log) == 2
    s = _stats()
    assert s["rebuilds"] == 1  # only the initial parse
    assert s["extends"] >= 1
    assert sorted(
        (r.k, r.v)
        for r in read_committed(spark, path, table_schema(path)).collect()
    ) == [(1, "a"), (2, "b")]


def test_in_place_publish_invalidates(spark, tmp_path):
    """publish_branch rewrites _manifest-N.json IN PLACE (same
    filename) — the mutation shape a filename-set fingerprint would
    miss; the stat fingerprint (mtime_ns, size) must catch it."""
    spark, path = spark, str(tmp_path / "t")
    _write(spark, path, [(1, "a")])
    _write(spark, path, [(2, "b")], branch="audit")
    clear_log_cache()
    # warm the cache: main readers see only the unbranched commit
    assert len(_log(path)) == 1
    publish_branch(path, "audit")
    assert len(_log(path)) == 2  # stale cache would still say 1
    assert sorted(
        (r.k, r.v)
        for r in read_committed(spark, path, table_schema(path)).collect()
    ) == [(1, "a"), (2, "b")]


def test_checkpoint_and_vacuum_invalidate(spark, tmp_path):
    spark, path = spark, str(tmp_path / "t")
    for i in range(3):
        _write(spark, path, [(i, f"v{i}")])
    delete_where(spark, path, spark.createDataFrame([(0,)], "k int"))
    clear_log_cache()
    before = _log(path)
    ck = checkpoint_log(path)
    assert ck["version"] is not None
    after = _log(path)  # new checkpoint file → re-fingerprint
    assert [v for v, _ in after] == [v for v, _ in before]
    assert _stats()["rebuilds"] == 2
    # content identity: cached parse == a from-scratch parse
    clear_log_cache()
    fresh = _log(path)
    assert json.dumps([m for _v, m in after], sort_keys=True) == (
        json.dumps([m for _v, m in fresh], sort_keys=True)
    )


def test_external_file_mutation_invalidates(spark, tmp_path):
    """A writer in ANOTHER process has no in-process hook — the
    fingerprint alone must see its commit. Simulate by writing a
    manifest file directly."""
    spark, path = spark, str(tmp_path / "t")
    _write(spark, path, [(1, "a")])
    clear_log_cache()
    assert len(_log(path)) == 1
    # hand-crafted external commit: version 2, no files
    m = {"kind": "append", "n_rows": 0, "files": []}
    final = os.path.join(path, "_manifest-000002.json")
    tmp = os.path.join(path, "._ext.tmp")
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, final)
    assert len(_log(path)) == 2


def test_vacuum_removal_invalidates(spark, tmp_path):
    spark, path = spark, str(tmp_path / "t")
    for i in range(3):
        _write(spark, path, [(i, f"v{i}")])
    # compaction then vacuum drops superseded manifests
    from olap_project_spark.export.manifest_sink import compact_snapshots

    compact_snapshots(spark, path, table_schema(path))
    clear_log_cache()
    n_before = len(_log(path, raw=True))
    vacuum_snapshots(path)
    n_after = len(_log(path, raw=True))
    assert n_after < n_before
