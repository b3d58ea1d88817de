"""The manifest writer's Arrow data plane (round-13 optimization):
``ManifestWriter`` is a ``DataSourceArrowWriter`` — write tasks consume
Arrow record batches straight from the JVM instead of pickled Rows —
and every manifest artifact the old row path produced (zone maps, null
counts, hidden-partition ranges, tuple histograms) is preserved
bit-for-bit in meaning."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from olap_project_spark.export.manifest_sink import (
    ManifestSinkDataSource,
    ManifestWriter,
    read_committed,
)


@pytest.fixture(scope="module")
def registered(spark):
    try:
        spark.dataSource.register(ManifestSinkDataSource)
    except Exception:  # noqa: BLE001 — already registered this session
        pass
    return spark


def test_writer_is_arrow_native():
    from pyspark.sql.datasource import DataSourceArrowWriter

    assert issubclass(ManifestWriter, DataSourceArrowWriter)


def test_mixed_type_write_round_trips_with_exact_metadata(
    registered, tmp_path
):
    """One write through the Arrow path carrying every tracker at once:
    ints (zone map), strings (zone map), a
    nullable column (null counts + zone-map disable), timestamps
    (epoch-exact through the tz cast), and a bucket(4) hidden
    partition transform (ranges + tuple histogram). The staged parquet
    carries no ``ARROW:schema`` footer key, and Spark reads the same
    schema."""
    schema = "k bigint, txt string, maybe double, ts timestamp"
    rows = [
        (
            i,
            f"alpha beta{i % 3}",
            float(i) if i % 5 else None,
            dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=i),
        )
        for i in range(200)
    ]
    path = str(tmp_path / "aw")
    (
        registered.createDataFrame(rows, schema)
        .coalesce(1)
        .write.format("manifest_sink")
        .option("path", path)
        .option(
            "partition_transform",
            json.dumps({"kind": "bucket", "arg": 4, "col": "k"}),
        )
        .mode("append")
        .save()
    )
    manifests = [e for e in os.listdir(path) if e.startswith("_manifest-")]
    assert len(manifests) == 1
    m = json.load(open(os.path.join(path, manifests[0])))
    assert m["n_rows"] == 200
    (fname,) = m["files"]
    # zone maps: exact for the never-null columns, absent for `maybe`
    # (disabled on first null) and `ts` (non-orderable-scalar contract)
    st = m["file_stats"][fname]
    assert st["k"] == [0, 199]
    assert st["txt"] == ["alpha beta0", "alpha beta2"]
    assert "maybe" not in st and "ts" not in st
    # exact per-column null counts survive the batch path
    assert m["file_nulls"][fname]["maybe"] == 200 // 5
    assert m["file_nulls"][fname]["k"] == 0
    # hidden-partition range + exact tuple histogram (4 buckets, 200 rows)
    assert fname in m["file_partitions"]
    hist = dict(
        (tuple(t), c) for t, c in m["file_partition_rows"][fname]
    )
    assert sum(hist.values()) == 200 and len(hist) <= 4
    # data plane: timestamps epoch-exact, nulls preserved
    back = read_committed(registered, path, schema)
    got = sorted(
        (r["k"], r["txt"], r["maybe"], r["ts"]) for r in back.collect()
    )
    assert got == sorted(rows)
    # no pyarrow schema footer; Spark infers the declared schema
    import pyarrow.parquet as pq

    staged = os.path.join(path, "_staging", fname)
    footer = pq.ParquetFile(staged).metadata.metadata or {}
    assert b"ARROW:schema" not in footer
    assert (
        registered.read.parquet(staged).schema
        == registered.createDataFrame(rows, schema).schema
    )


def test_multi_partition_write_one_file_per_task(registered, tmp_path):
    path = str(tmp_path / "aw_parts")
    (
        registered.createDataFrame(
            [(i, f"v{i}") for i in range(1000)], "k bigint, v string"
        )
        .repartition(4)
        .write.format("manifest_sink")
        .option("path", path)
        .mode("append")
        .save()
    )
    m = json.load(
        open(
            os.path.join(
                path,
                next(
                    e
                    for e in os.listdir(path)
                    if e.startswith("_manifest-")
                ),
            )
        )
    )
    assert len(m["files"]) == 4 and m["n_rows"] == 1000
    assert sum(m["file_rows"].values()) == 1000
