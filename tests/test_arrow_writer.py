"""The manifest writer's Arrow data plane: ``ManifestWriter.write``
consumes Arrow record batches (straight from the JVM inside
``save_manifest``'s ``mapInArrow`` task, or from the driver) instead of
pickled Rows, and every manifest artifact (zone maps, null counts,
hidden-partition ranges, tuple histograms) is exact."""

from __future__ import annotations

import datetime as dt
import json
import os

from olap_project_spark.export.manifest_sink import (
    ManifestWriter,
    read_committed,
    save_manifest,
)


def test_writer_is_arrow_native(tmp_path):
    """Record batches fed to ``write`` on the driver, with no Spark
    job, land as one staged parquet file whose rows and zone map are
    exact; a batch in another column order is aligned by name."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    path = str(tmp_path / "native")
    batches = [
        pa.record_batch(
            [pa.array([3, 1], pa.int64()), pa.array(["c", "a"])],
            names=["k", "v"],
        ),
        pa.record_batch(
            [pa.array(["z"]), pa.array([7], pa.int64())], names=["v", "k"]
        ),
    ]
    msg = ManifestWriter({"path": path}, schema=schema).write(iter(batches))
    assert msg.n_rows == 3
    assert msg.col_stats == {"k": [1, 7], "v": ["a", "z"]}
    staged = pq.read_table(os.path.join(path, "_staging", msg.file_name))
    assert staged.column_names == ["k", "v"]
    assert staged.to_pylist() == [
        {"k": 3, "v": "c"},
        {"k": 1, "v": "a"},
        {"k": 7, "v": "z"},
    ]


def test_mixed_type_write_round_trips_with_exact_metadata(
    spark, tmp_path
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
    save_manifest(
        spark.createDataFrame(rows, schema).coalesce(1),
        path,
        partition_transform=json.dumps(
            {"kind": "bucket", "arg": 4, "col": "k"}
        ),
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
    back = read_committed(spark, path, schema)
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
        spark.read.parquet(staged).schema
        == spark.createDataFrame(rows, schema).schema
    )


def test_multi_partition_write_one_file_per_task(spark, tmp_path):
    path = str(tmp_path / "aw_parts")
    rows = [(i, f"v{i}") for i in range(1000)]
    save_manifest(
        spark.createDataFrame(rows, "k bigint, v string").repartition(4), path
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
