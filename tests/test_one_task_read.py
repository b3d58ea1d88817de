"""A manifest read whose files fit one partition runs as one task.

``_read_files`` coalesces the scan to one partition when the files
total no more than ``min(spark.sql.files.openCostInBytes,
spark.sql.files.maxPartitionBytes)``, so an aggregate over a small
read plans no exchange and runs one job. A read above that limit keeps
Spark's own split planning. Under both plans a delete, a re-insert of
the deleted key and a ``maintain`` pass read back the rows of the
pure-Python model in ``tests/txn_model.py``: the tombstone filters,
scoped by ``_metadata.file_name``, apply before the coalesce."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from olap_project_spark.export.manifest_sink import (
    MaintenancePolicy,
    _committed_files,
    delete_where,
    maintain,
    read_committed,
    save_manifest,
    table_schema,
)
from olap_project_spark.queries import transactions as T
from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
from olap_project_spark.transforms import clean
from tests import txn_model as M
from tests.fixtures import count_jobs

COLS = ["User", "Card", "Year", "Month", "Day", "Hour", "Merchant_Name", "Is_Fraud"]
OPEN_COST = "spark.sql.files.openCostInBytes"
MAX_BYTES = "spark.sql.files.maxPartitionBytes"


def _append(spark, path, raw):
    df = clean(spark.createDataFrame(raw, RAW_TRANSACTION_SCHEMA),
               rate=M.RATE, processed_at=M.PROCESSED_AT)
    save_manifest(df.coalesce(1), path)


def _rows(df):
    return Counter(tuple(r) for r in df.select(*COLS).collect())


def _model(raw):
    return Counter(tuple(M.clean_row(r)[c] for c in COLS) for r in raw)


def _table(spark, path):
    """Three one-file appends of seeded raw rows; returns the raw rows."""
    raw = M.raw_rows(101)
    for i in range(3):
        _append(spark, path, raw[i::3])
    return raw


def _files(path):
    return [os.path.join(path, "_staging", n) for n, _stats in _committed_files(path)]


@pytest.fixture
def session_conf(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def _delete_reinsert_maintain(spark, path, raw):
    """Delete the busiest card, append its rows again, then maintain;
    after each step the table reads as the model."""
    schema = table_schema(path)
    card = Counter(r[1] for r in raw if r[1] is not None).most_common(1)[0][0]
    theirs = [r for r in raw if r[1] == card]
    want = _model(r for r in raw if r[1] != card)
    delete_where(spark, path, spark.createDataFrame([(card,)], "Card string"))
    assert _rows(read_committed(spark, path, schema)) == want
    _append(spark, path, theirs)
    want += _model(theirs)
    assert _rows(read_committed(spark, path, schema)) == want
    maintain(spark, path, schema, MaintenancePolicy(col="Hour"))
    df = read_committed(spark, path, schema)
    assert _rows(df) == want
    hours = [tuple(r) for r in T.q1_busiest_hours(df).collect()]
    assert hours == [tuple(t) for t in M.q1_busiest_hours([M.clean_row(r) for r in raw])]


def test_small_read_is_one_task(spark, tmp_path):
    path = str(tmp_path / "t")
    raw = _table(spark, path)
    schema = table_schema(path)
    df = read_committed(spark, path, schema)
    assert len(_files(path)) == 3
    assert df.rdd.getNumPartitions() == 1
    _, jobs = count_jobs(spark, lambda: df.groupBy("Hour").count().collect())
    assert jobs == 1
    (n,), jobs = count_jobs(spark, lambda: df.agg(F.count("*")).first())
    assert (n, jobs) == (len(raw), 1)
    _delete_reinsert_maintain(spark, path, raw)


@pytest.mark.parametrize("knob", [OPEN_COST, MAX_BYTES])
def test_large_read_keeps_spark_partitions(spark, tmp_path, session_conf, knob):
    """A limit below the table's size: the read has the partitions a
    plain Spark scan of the same files has."""
    path = str(tmp_path / "t")
    raw = _table(spark, path)
    schema = table_schema(path)
    files = _files(path)
    session_conf(knob, str(min(os.path.getsize(f) for f in files) // 2))
    got = read_committed(spark, path, schema).rdd.getNumPartitions()
    assert got == spark.read.schema(schema).parquet(*files).rdd.getNumPartitions()
    if knob == MAX_BYTES or spark.sparkContext.defaultParallelism > 1:
        assert got > 1
    _delete_reinsert_maintain(spark, path, raw)
