"""Parity of the Arrow local-frame builder with the classic
``createDataFrame`` list path — the contract that lets the conftest
route all list-based test frames (and the engine route its result
rows) through one Arrow record batch.

These tests deliberately call the UNPATCHED classic builder (saved by
the conftest patch) so the comparison stays classic-vs-arrow even
though the suite runs patched."""

from __future__ import annotations

import datetime
import decimal
import time

import pytest
from pyspark.sql import SparkSession

from olap_project_spark.functions.localframe import (
    arrow_local_frame,
    local_frame,
)


def _classic(spark, rows, schema):
    orig = getattr(SparkSession.createDataFrame, "_orig", None)
    if orig is None:  # suite running unpatched
        return spark.createDataFrame(rows, schema)
    return orig(spark, rows, schema)


CASES = [
    ([(1, "a", 2.5), (2, None, 3.5)], "x int, s string, v double"),
    ([], "`User` string, cents bigint"),
    ([([1, 2], True, 9)], "arr array<int>, b boolean, n bigint"),
    (
        [
            (
                datetime.datetime(2024, 1, 1, 3, 4, 5),
                decimal.Decimal("1.25"),
            )
        ],
        "ts timestamp, d decimal(18,2)",
    ),
    ([(None, None)], "a bigint, b string"),
    ([(i, f"s{i}") for i in range(1000)], "k long, s string"),
    ([(-128, -32768, -(2**31), -(2**63)), (127, 32767, 2**31 - 1, 2**63 - 1)],
     "b tinyint, s smallint, i int, l bigint"),
    ([(1, 1.5, float("inf")), (2, -0.0, float("-inf")), (3, None, 1e308)],
     "k int, f float, d double"),
    ([(1, decimal.Decimal("-12345678901234567890.0123456789")),
      (2, decimal.Decimal("0E-10")), (3, None)], "k int, d decimal(30,10)"),
    ([("héllo wörld", ""), ("日本語", "emoji \U0001f600")], "a string, b string"),
    ([(1, bytearray(b"\x00\xff"), True), (2, None, False)],
     "k int, bin binary, b boolean"),
    ([(1, datetime.date(1969, 12, 31)), (2, datetime.date(2024, 2, 29)), (3, None)],
     "k int, d date"),
    ([(1, datetime.datetime(1965, 3, 1, 0, 0, 1)),
      (2, datetime.datetime(2024, 3, 10, 2, 30)), (3, None)], "k int, ts timestamp"),
    ([(datetime.datetime(2024, 3, 10, 2, 30),)], "t timestamp_ntz"),
    ([(1, ["a", None, "c"]), (2, []), (3, None)], "k int, arr array<string>"),
    ([([[1], [], None],)], "arr array<array<int>>"),
    ([({"k": 1, "z": None},)], "m map<string,int>"),
    ([(1, (1, "x")), (2, None)], "k int, st struct<a:int,b:string>"),
    ([([(1, "x"), (2, None)],)], "arr array<struct<a:int,b:string>>"),
    ([(1, [datetime.datetime(2024, 1, 1, 0, 0)])], "k int, arr array<timestamp>"),
    ([(1, "a", None, 2.0)] * 3, "k int, s string, n int, v double"),
    ([("0", "1")], "`Is Fraud?` string, `Errors?` string"),
]


@pytest.mark.parametrize("rows,schema", CASES)
def test_rows_and_schema_match_classic(spark, rows, schema):
    a = _classic(spark, rows, schema)
    b = local_frame(spark, rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


@pytest.fixture()
def new_york_host(monkeypatch):
    """Run the test with a non-UTC host time zone (Python side: naive
    datetimes are host-local wall clocks to both builders)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize(
    "rows,schema",
    [c for c in CASES if "timestamp" in c[1]]
    + [
        (
            [(datetime.datetime(2024, 7, 1, 12, 0, 0, 123456), None)],
            "ts timestamp, s string",
        )
    ],
)
def test_timestamps_match_classic_on_non_utc_host(
    spark, new_york_host, rows, schema
):
    test_rows_and_schema_match_classic(spark, rows, schema)


def test_plans_as_local_table_scan(spark):
    df = arrow_local_frame(spark, [(1, "a")], "x int, s string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan


def test_dict_rows_fall_back_to_by_name_binding(spark):
    rows = [{"s": "a", "x": 1}]  # reversed key order vs the schema
    df = local_frame(spark, rows, "x int, s string")
    assert df.collect() == [(1, "a")]


def test_write_through_save_manifest_round_trips(spark, tmp_path):
    from olap_project_spark.export.manifest_sink import (
        read_committed,
        save_manifest,
    )

    path = str(tmp_path / "lf")
    rows = [(i, i * 10) for i in range(50)]
    st = save_manifest(
        arrow_local_frame(spark, rows, "k long, v long").coalesce(1), path
    )
    assert st["n_rows"] == 50 and st["n_files"] == 1
    got = sorted(
        (r["k"], r["v"])
        for r in read_committed(spark, path, "k long, v long").collect()
    )
    assert got == rows
