"""Deletes and merges of the manifest table as driver-side key sets.

``delete_where`` commits its tombstone from the driver, and a read folds
every delete into ONE scan as a key filter (``_key_hit``) instead of a
join. These tests pin the job counts that design promises, check the
fold against a pure-Python model under random operation sequences, and
check timestamp and decimal keys on a non-UTC host."""

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

from olap_project_spark.export.manifest_sink import (
    committed_versions,
    compact_snapshots,
    delete_where,
    merge_upsert,
    read_committed,
    read_pruned,
    save_manifest,
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
# re-inserts, merges and compactions reads back, at every version and
# through the pruned read, as a pure-Python fold of the same sequence.
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
)


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
        else:
            compact_snapshots(spark, path, SCHEMA)
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


def _manifests(path):
    from olap_project_spark.export.manifest_sink import _log

    return _log(path, raw=True)
