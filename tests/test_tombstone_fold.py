"""Deletes and merges of the manifest table as driver-side key sets.

``delete_where`` commits its tombstone from the driver, a read folds
every delete into ONE scan as a key filter (``_key_hit``) instead of a
join, and ``maintain`` materializes the deletes on the driver by
rewriting only the files they hit. These tests pin the job counts that
design promises, check the fold and the materialization against a
pure-Python model under random operation sequences, check timestamp and
decimal keys on a non-UTC host, fail ``maintain`` part-way and run it
again, and check that a deleted key leaves the disk."""

from __future__ import annotations

import datetime
import decimal
import os
import time
import uuid
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from olap_project_spark.export import manifest_sink as ms
from olap_project_spark.export.manifest_sink import (
    MaintenancePolicy,
    checkpoint_log,
    committed_versions,
    compact_snapshots,
    delete_where,
    maintain,
    merge_upsert,
    read_committed,
    read_pruned,
    save_manifest,
    vacuum_snapshots,
)

SCHEMA = "k int, j string, v string"


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"tombstone-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _table(spark, path, n_deletes):
    for day in range(3):
        rows = [(i, f"j{day}", f"d{day}r{i}") for i in range(20)]
        save_manifest(spark.createDataFrame(rows, SCHEMA), path)
    for i in range(n_deletes):
        delete_where(spark, path, spark.createDataFrame([(i,)], "k int"))


def test_local_key_delete_launches_no_job(spark, tmp_path):
    import pyarrow as pa

    path = str(tmp_path / "t")
    _table(spark, path, 0)
    keys = spark.createDataFrame(pa.table({"k": pa.array([1, 2], pa.int32())}))
    _, jobs = _jobs(spark, lambda: delete_where(spark, path, keys))
    assert jobs == 0
    assert read_committed(spark, path, SCHEMA).count() == 54


def test_deletes_add_no_read_jobs(spark, tmp_path):
    """Each delete is a filter on the one scan: no broadcast job."""
    plain, deleted = str(tmp_path / "plain"), str(tmp_path / "deleted")
    _table(spark, plain, 0)
    _table(spark, deleted, 3)
    n0, jobs0 = _jobs(spark, lambda: read_committed(spark, plain, SCHEMA).count())
    n3, jobs3 = _jobs(spark, lambda: read_committed(spark, deleted, SCHEMA).count())
    assert (n0, n3) == (60, 51)
    assert jobs3 == jobs0


# ---------------------------------------------------------------------------
# Property: any sequence of appends, one- and two-column deletes (null
# keys on both sides, keys matching nothing, empty key frames),
# re-inserts, merges, compactions and maintain passes reads back, at
# every version and through the pruned read, as a pure-Python fold of
# the same sequence.
# ---------------------------------------------------------------------------
_K = st.one_of(st.none(), st.integers(0, 3))
_J = st.one_of(st.none(), st.sampled_from(["a", "b"]))
_KEY2 = st.tuples(_K, _J)
_op = st.one_of(
    st.tuples(st.just("append"), st.lists(_KEY2, min_size=1, max_size=3)),
    st.tuples(st.just("delete1"), st.lists(_K, max_size=3)),
    st.tuples(st.just("delete2"), st.lists(_KEY2, max_size=3)),
    st.tuples(st.just("reinsert"), st.just([])),
    st.tuples(st.just("merge"), st.lists(_KEY2, min_size=1, max_size=2)),
    st.tuples(st.just("compact"), st.just([])),
    st.tuples(st.just("maintain"), st.just([])),
)
# small-file pressure on any two files: a pass may also compact a range
_POLICY = MaintenancePolicy(col="k", n_ranges=2, min_files=2, vacuum=False)


def _hit(row, keys, cols):
    """The model's match: equal on every key column, no nulls."""
    return any(
        all(row[c] is not None and row[c] == v for c, v in zip(cols, key))
        for key in keys
        if None not in key
    )


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_op, min_size=1, max_size=6))
# the null rule: a null on either side never matches
@example(
    ops=[
        ("append", [(None, "a"), (1, None), (1, "a"), (2, "b")]),
        ("delete2", [(None, "a"), (1, None)]),
        ("delete1", [None]),
        ("delete2", [(1, "a")]),
        ("delete1", [2]),
        ("delete2", []),
    ]
)
# the re-insert rule: a key appended after its delete survives it
@example(
    ops=[
        ("append", [(1, "a"), (2, "b")]),
        ("delete1", [1]),
        ("reinsert", []),
        ("merge", [(2, "a")]),
        ("delete2", [(2, "a")]),
        ("reinsert", []),
    ]
)
# maintain: null keys on both sides match nothing
@example(
    ops=[
        ("append", [(None, "a"), (1, None), (1, "a"), (2, "b")]),
        ("delete2", [(None, "a"), (1, None)]),
        ("delete1", [None]),
        ("maintain", []),
        ("delete1", [2]),
        ("maintain", []),
    ]
)
# maintain: a key re-inserted after its delete survives it
@example(
    ops=[
        ("append", [(1, "a"), (2, "b")]),
        ("delete1", [1]),
        ("reinsert", []),
        ("maintain", []),
    ]
)
# maintain: a two-column delete
@example(
    ops=[
        ("append", [(1, "a"), (1, "b"), (2, "a")]),
        ("delete2", [(1, "b"), (2, None)]),
        ("maintain", []),
    ]
)
# maintain: a merge's keys replace the rows before it only
@example(
    ops=[
        ("append", [(1, "a"), (2, "b")]),
        ("merge", [(1, "b"), (3, "a")]),
        ("maintain", []),
    ]
)
def test_fold_matches_model(spark, tmp_path, ops):
    path = str(tmp_path / f"fold_{uuid.uuid4().hex[:12]}")
    model: list[tuple] = []  # (k, j, v) rows
    states: dict[int, Counter] = {}
    last_keys: list[tuple] = [(0, "a")]
    serial = 0

    def fresh(keys):
        nonlocal serial
        serial += len(keys)
        return [(k, j, f"r{serial - i}") for i, (k, j) in enumerate(keys)]

    for op, arg in [("append", [(0, "a")])] + ops:
        if op in ("append", "reinsert"):
            rows = fresh(arg if op == "append" else last_keys)
            save_manifest(spark.createDataFrame(rows, SCHEMA), path)
            model += rows
        elif op == "delete1":
            delete_where(
                spark, path, spark.createDataFrame([(k,) for k in arg], "k int")
            )
            model = [r for r in model if not _hit(r, [(k,) for k in arg], (0,))]
            last_keys = [(k, "a") for k in arg]
        elif op == "delete2":
            delete_where(spark, path, spark.createDataFrame(arg, "k int, j string"))
            model = [r for r in model if not _hit(r, arg, (0, 1))]
            last_keys = list(arg)
        elif op == "merge":
            rows = fresh(arg)
            merge_upsert(spark, path, spark.createDataFrame(rows, SCHEMA), ["k"])
            model = [
                r for r in model if not _hit(r, [(k,) for k, _ in arg], (0,))
            ] + rows
        elif op == "compact":
            compact_snapshots(spark, path, SCHEMA)
        else:
            maintain(spark, path, SCHEMA, _POLICY)
        states[max(committed_versions(path))] = Counter(model)

    assert _rows(read_committed(spark, path, SCHEMA)) == Counter(model)
    pruned = read_pruned(spark, path, SCHEMA, "k", 1, 2).where("k between 1 and 2")
    assert _rows(pruned) == Counter(
        r for r in model if r[0] is not None and 1 <= r[0] <= 2
    )
    for version, want in states.items():
        got = _rows(read_committed(spark, path, SCHEMA, as_of=version))
        assert got == want, f"as_of={version}"


# ---------------------------------------------------------------------------
# Key types on a non-UTC host: the driver converts naive timestamps as
# host-local wall clocks and decimals exactly, on both the write and the
# read side of a delete.
# ---------------------------------------------------------------------------
@pytest.fixture
def new_york_host(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_timestamp_and_decimal_keys_on_non_utc_host(
    spark, tmp_path, new_york_host
):
    import pyarrow.parquet as pq

    utc = datetime.timezone.utc
    noon = datetime.datetime(2024, 7, 1, 12, 0)  # 16:00 UTC in New York
    rows = [
        (noon, decimal.Decimal("1.10"), "ny-noon"),
        (noon.replace(tzinfo=utc), decimal.Decimal("2.25"), "utc-noon"),
        (noon + datetime.timedelta(microseconds=1), decimal.Decimal("2.2"), "next-us"),
        (datetime.datetime(2024, 3, 10, 3, 30), decimal.Decimal("2.26"), "post-dst"),
    ]
    schema = "ts timestamp, d decimal(10,2), v string"
    path = str(tmp_path / "t")
    save_manifest(spark.createDataFrame(rows, schema), path)

    def left():
        return sorted(r.v for r in read_committed(spark, path, schema).collect())

    version = delete_where(
        spark,
        path,
        spark.createDataFrame(
            [(noon,), (datetime.datetime(2024, 3, 10, 3, 30),)], "ts timestamp"
        ),
    )
    assert left() == ["next-us", "utc-noon"]
    delete_where(
        spark, path, spark.createDataFrame([(decimal.Decimal("2.20"),)], "d decimal(10,2)")
    )
    assert left() == ["utc-noon"]

    # the tombstone holds the exact instants, whatever the host zone
    m = [m for v, m in _manifests(path) if v == version][0]
    stored = [
        t
        for f in m["files"]
        for t in pq.read_table(os.path.join(path, "_staging", f))
        .column("ts")
        .to_pylist()
    ]
    assert sorted(stored) == [
        datetime.datetime(2024, 3, 10, 7, 30, tzinfo=utc),
        datetime.datetime(2024, 7, 1, 16, 0, tzinfo=utc),
    ]
    # time travel below the deletes still reads every row
    assert len(read_committed(spark, path, schema, as_of=version - 1).collect()) == 4

    # maintain rewrites the file with the same instants and decimals
    report = maintain(spark, path, schema, MaintenancePolicy(col="d"))
    assert report["actions"][0] == "materialize"
    assert left() == ["utc-noon"]
    (m,) = [m for _v, m in _manifests(path) if m["kind"] == "rewrite"]
    (kept,) = [
        r
        for f in m["files"]
        for r in pq.read_table(os.path.join(path, "_staging", f)).to_pylist()
    ]
    assert kept == {
        "ts": datetime.datetime(2024, 7, 1, 12, 0, tzinfo=utc),
        "d": decimal.Decimal("2.25"),
        "v": "utc-noon",
    }


@pytest.mark.parametrize("gone", [0, 1])
def test_repeated_dst_hour_keys_on_non_utc_host(
    spark, tmp_path, new_york_host, gone
):
    """01:30 happens twice in New York on 2024-11-03: a delete of either
    instant removes that instant only."""
    utc = datetime.timezone.utc
    both = [
        (datetime.datetime(2024, 11, 3, 5, 30, tzinfo=utc), "first"),
        (datetime.datetime(2024, 11, 3, 6, 30, tzinfo=utc), "second"),
    ]
    schema = "ts timestamp, v string"
    path = str(tmp_path / "t")
    save_manifest(spark.createDataFrame(both, schema), path)
    keys = spark.createDataFrame([(both[gone][0],)], "ts timestamp")
    delete_where(spark, path, keys)
    left = [r.v for r in read_committed(spark, path, schema).collect()]
    assert left == [both[1 - gone][1]]
    maintain(spark, path, schema, MaintenancePolicy(col="ts"))
    left = [r.v for r in read_committed(spark, path, schema).collect()]
    assert left == [both[1 - gone][1]]


def _manifests(path):
    from olap_project_spark.export.manifest_sink import _log

    return _log(path, raw=True)


# ---------------------------------------------------------------------------
# maintain materializes tombstones on the driver: it rewrites only the
# files a delete hits and runs no Spark job unless a range is flagged.
# ---------------------------------------------------------------------------
def _live(path):
    from olap_project_spark.export.manifest_sink import _committed_files

    return [name for name, _stats in _committed_files(path)]


def _staged(path):
    staging = os.path.join(path, "_staging")
    return {
        os.path.relpath(os.path.join(d, f), staging)
        for d, _dirs, fs in os.walk(staging)
        for f in fs
    }


def _guard_table(spark, path):
    """Three day files hit by deletes of k = 0, 1, 2, a file no delete
    hits (k >= 100) and a file whose rows are all deleted (k = 0)."""

    def append(rows):
        save_manifest(spark.createDataFrame(rows, SCHEMA).coalesce(1), path)

    for day in range(3):
        append([(i, f"j{day}", f"d{day}r{i}") for i in range(20)])
    spared = [(100 + i, "s", f"s{i}") for i in range(20)]
    append(spared)
    append([(0, "x", "x0"), (0, "y", "y0")])
    for i in range(3):
        delete_where(spark, path, spark.createDataFrame([(i,)], "k int"))
    want = [(i, f"j{d}", f"d{d}r{i}") for d in range(3) for i in range(3, 20)]
    return Counter(want + spared)


def test_maintain_materializes_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    want = _guard_table(spark, path)
    before = _live(path)
    spared = os.path.join(path, "_staging", before[3])
    with open(spared, "rb") as f:
        spared_bytes = f.read()

    report, jobs = _jobs(
        spark, lambda: maintain(spark, path, SCHEMA, MaintenancePolicy(col="k"))
    )
    assert jobs == 0
    assert report["actions"] == ["materialize", "vacuum"]
    assert _rows(read_committed(spark, path, SCHEMA)) == want
    after = _live(path)
    # the spared file is kept by name and bytes; the three hit files are
    # rewritten; the all-deleted file leaves no data file
    assert before[3] in after and len(after) == 4
    with open(spared, "rb") as f:
        assert f.read() == spared_bytes
    assert not set(before) - {before[3]} & set(after)
    assert _staged(path) == set(after)
    again = maintain(spark, path, SCHEMA, MaintenancePolicy(col="k"))
    assert again["noop"] and again["actions"] == []


def test_maintain_materializes_then_compacts_ranges(spark, tmp_path):
    """Tombstones plus small-file pressure: the pass materializes, then
    re-plans and compacts the flagged range."""
    path = str(tmp_path / "t")
    rows = [(k, "a", f"r{k}") for k in range(6)]
    for r in rows:
        save_manifest(spark.createDataFrame([r], SCHEMA), path)
    delete_where(spark, path, spark.createDataFrame([(1,), (4,)], "k int"))
    policy = MaintenancePolicy(col="k", n_ranges=1, min_files=3, n_files_per_range=1)
    report = maintain(spark, path, SCHEMA, policy)
    assert report["actions"][0] == "materialize"
    assert report["actions"][1].startswith("compact_range[")
    assert report["actions"][2:] == ["vacuum"]
    assert _rows(read_committed(spark, path, SCHEMA)) == Counter(
        r for r in rows if r[0] not in (1, 4)
    )
    assert len(_live(path)) == 1


def test_maintain_matches_wider_keys_as_the_read_does(spark, tmp_path):
    """A bigint key on an int column: a key in range deletes its rows,
    and one the column cannot hold (2**32 + 2 wraps to 2 as an int)
    matches nothing, in the read and in maintain alike."""
    path = str(tmp_path / "t")
    rows = [(1, "a", "x"), (2, "b", "y")]
    save_manifest(spark.createDataFrame(rows, SCHEMA).coalesce(1), path)
    delete_where(spark, path, spark.createDataFrame([(2**32 + 2,), (1,)], "k bigint"))
    for _ in range(2):  # the fold, then the materialized table
        assert _rows(read_committed(spark, path, SCHEMA)) == Counter(rows[1:])
        maintain(spark, path, SCHEMA, MaintenancePolicy(col="k"))


@pytest.mark.parametrize("point", ["after_first_file", "before_replace", "before_vacuum"])
def test_maintain_completes_after_a_failure(spark, tmp_path, monkeypatch, point):
    """maintain is idempotent: a pass that fails part-way leaves reads
    unchanged, a second pass completes it, and a final vacuum leaves no
    unreferenced staging file."""
    path = str(tmp_path / "t")
    want = _guard_table(spark, path)
    fired = []

    def once():
        if not fired:
            fired.append(point)
            raise OSError(f"injected at {point}")

    if point == "after_first_file":
        write = ms.ManifestWriter.write

        def write_then_fail(self, *args, **kwargs):
            out = write(self, *args, **kwargs)
            once()
            return out

        monkeypatch.setattr(ms.ManifestWriter, "write", write_then_fail)
    elif point == "before_replace":
        replace = os.replace

        def fail_manifest_replace(src, dst):
            if os.path.basename(dst).startswith("_manifest-"):
                once()
            replace(src, dst)

        monkeypatch.setattr(ms.os, "replace", fail_manifest_replace)
    else:
        vacuum = ms.vacuum_snapshots

        def fail_vacuum(*args, **kwargs):
            once()
            return vacuum(*args, **kwargs)

        monkeypatch.setattr(ms, "vacuum_snapshots", fail_vacuum)
    policy = MaintenancePolicy(col="k")
    with pytest.raises(OSError, match="injected"):
        maintain(spark, path, SCHEMA, policy)
    assert _rows(read_committed(spark, path, SCHEMA)) == want
    maintain(spark, path, SCHEMA, policy)
    assert _rows(read_committed(spark, path, SCHEMA)) == want
    assert maintain(spark, path, SCHEMA, policy)["noop"]
    # the crashed claim of "before_replace" is collected by its TTL,
    # and its manifest's temp file with it
    vacuum_snapshots(path, stale_claim_ttl_s=0.0)
    assert _staged(path) == set(_live(path))
    assert not [n for n in os.listdir(path) if n.endswith(".tmp")]
    assert _rows(read_committed(spark, path, SCHEMA)) == want


def test_maintain_erases_the_deleted_card(spark, tmp_path):
    """After a vacuuming pass the deleted card is in no file under the
    table: not in a data file's key column, nor in the bytes of a
    manifest, a log checkpoint or a tombstone."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    schema = "Card string, k int, v string"
    gone = "4000-1234-5678-9999"
    for day in range(3):
        rows = [(gone, day, f"g{day}"), (f"4000-0000-0000-000{day}", day, f"o{day}")]
        save_manifest(spark.createDataFrame(rows, schema), path)
    checkpoint_log(path)
    delete_where(spark, path, spark.createDataFrame([(gone,)], "Card string"))
    checkpoint_log(path)  # bundles the delete's manifest

    maintain(spark, path, schema, MaintenancePolicy(col="k", checkpoint=True))
    left = read_committed(spark, path, schema).collect()
    assert sorted(r.v for r in left) == ["o0", "o1", "o2"]
    seen = 0
    for d, _dirs, fs in os.walk(path):
        for name in fs:
            f = os.path.join(d, name)
            if name.endswith(".parquet"):
                assert gone not in pq.read_table(f).column("Card").to_pylist(), f
            else:
                with open(f, "rb") as fh:
                    assert gone.encode() not in fh.read(), f
            seen += 1
    assert seen > 3  # data files, manifests and a checkpoint were checked
