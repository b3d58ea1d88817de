"""Regression guard for driver-side parquet timestamp format drift.

The driver's ``events.ts`` column has shipped in different physical
parquet encodings between rounds (round 1: INT64 TIMESTAMP(NANOS);
round 2: ``timestamp[us]``, which Spark 4 reads as TIMESTAMP_NTZ and
which broke window queries, numeric casts, and ``withWatermark``).
This test writes the same events fixture THREE ways and asserts the
test loader (``tests/fixtures.load_table``) plus one window query work
identically on all of them, so no future encoding drift can zero a
round again.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from tests.fixtures import load_table

BASE = dt.datetime(2024, 3, 1, 0, 0, 0)
ROWS = [
    # (event_id, ts_offset_s, user_id, event_type, value)
    (1, 0, 1, "click", 1.0),
    (2, 30, 1, "click", 2.0),
    (3, 4000, 1, "purchase", 3.0),
    (4, 10, 2, "view", 4.0),
    (5, 7200, 2, "click", 5.0),
    (6, 7230, 2, "error", 6.0),
]


def _write_events(path: str, ts_array: pa.Array) -> None:
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS], pa.string()),
            "value": pa.array([r[4] for r in ROWS], pa.float64()),
        }
    )
    pq.write_table(table, path)


def _ts_values() -> list[dt.datetime]:
    return [BASE + dt.timedelta(seconds=r[1]) for r in ROWS]


@pytest.fixture(scope="module", params=["ntz_us", "utc_us", "ns_int64"])
def events_dir(request, tmp_path_factory):
    """One directory per physical encoding, each holding events.parquet."""
    d = tmp_path_factory.mktemp(f"events_{request.param}")
    vals = _ts_values()
    if request.param == "ntz_us":
        arr = pa.array(vals, pa.timestamp("us"))
    elif request.param == "utc_us":
        arr = pa.array(
            [v.replace(tzinfo=dt.timezone.utc) for v in vals],
            pa.timestamp("us", tz="UTC"),
        )
    else:  # INT64 TIMESTAMP(NANOS) — unrepresentable in Spark natively
        nanos = [int(v.timestamp() * 1_000_000) * 1000 for v in
                 (x.replace(tzinfo=dt.timezone.utc) for x in vals)]
        arr = pa.array(nanos, pa.timestamp("ns"))
    _write_events(os.path.join(d, "events.parquet"), arr)
    return str(d)


class TestTimestampRobustness:
    def test_load_table_yields_timestamp_type(self, spark, events_dir):
        df = load_table(spark, events_dir, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        got = sorted(
            (r.event_id, r.ts) for r in df.select("event_id", "ts").collect()
        )
        want = sorted(zip((r[0] for r in ROWS), _ts_values()))
        assert got == want

    def test_window_gap_query(self, spark, events_dir):
        """The exact shape that broke in round 2: lag + cast ts to double."""
        from pyspark.sql import Window

        df = load_table(spark, events_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gaps = (
            df.withColumn(
                "gap_s", F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
            )
            .filter(F.col("gap_s").isNotNull())
            .select("user_id", "gap_s")
            .collect()
        )
        got = sorted((r.user_id, r.gap_s) for r in gaps)
        assert got == [(1, 30.0), (1, 3970.0), (2, 30.0), (2, 7190.0)]
