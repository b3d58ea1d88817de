"""SparkSession construction for the engine.

The reference hard-codes ``spark.sql.shuffle.partitions=3`` and
``coalesce(1)`` file sinks (scripts/spark_streaming_consumer.py:142, :317)
— fine for 126 rows, fatal at 100 TB. Here the session is built for scale:

- **AQE on** (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) so one static setting serves sf0.001 in
  tests and a 1000-executor cluster in production.
- **UTC session timezone** so calendar extraction (hour/day/weekend keys)
  is deterministic and matches external oracles regardless of host TZ.
- **Arrow enabled** for the driver-local frames and the manifest sink's
  ``mapInArrow`` writes — never row-at-a-time Python UDFs.
- Shuffle partitions default to the local core count but AQE coalesces
  down; on a real cluster this is overridden per-deploy, not per-query.
- **Python workers fork from** :mod:`olap_project_spark.worker_daemon`
  (``spark.python.daemon.module``). Before each task PySpark calls
  ``importlib.invalidate_caches()`` (``pyspark/worker_util.py:144``),
  and before CPython 3.13 (which makes it lazy) that re-reads
  ``pyspark.zip``'s directory once per zip importer: ~68 ms of CPU per
  ``mapInArrow`` task on a 4-core host. The daemon re-reads an archive
  only when it changed. The package's parent directory goes first on the
  workers' ``PYTHONPATH`` so they can import the daemon module.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "olap-project-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when not attached
    to a cluster; on a real deployment pass ``None`` with a cluster master
    already configured via spark-submit. A ``spark.executorEnv.PYTHONPATH``
    in ``extra_conf`` is kept, after the package's parent directory.
    """
    extra_conf = dict(extra_conf or {})
    worker_path = extra_conf.pop("spark.executorEnv.PYTHONPATH", None)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 3.x / reference semantics: malformed casts → null, not
        # error (the clean() transform additionally uses try_* variants so
        # it is safe under ANSI sessions too).
        .config("spark.sql.ansi.enabled", "false")
        # Read INT64 TIMESTAMP(NANOS) parquet columns (which Spark cannot
        # represent natively) as long nanoseconds; a reader of such a
        # file converts them to µs TimestampType itself.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # AQE: coalesce shuffle partitions, split skewed joins, convert
        # sort-merge→broadcast at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for pandas_udf / mapInPandas extension points.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Larger scans stay parallel: 128 MiB splits (default) are right
        # for 100 TB; don't shrink for tiny local files.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Manifest reads pass EXACT leaf-file lists (no directory
        # recursion), so listing is one stat per path. Spark's default
        # threshold (32 paths) launches a distributed listing JOB the
        # moment a table holds 33 files — a fixed ~0.1 s job to stat a
        # handful of local files, paid on every read of every
        # lifecycle table. Below 1024 paths the driver's listing pool
        # is faster on any filesystem; above it (real 100-TB tables:
        # ~200k files at 512 MB) the distributed listing still kicks
        # in exactly as before.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.daemon.module", "olap_project_spark.worker_daemon")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(filter(None, [_PACKAGE_PARENT, worker_path])),
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER_SET"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_test_session() -> SparkSession:
    """Small-footprint session for pytest: fewer shuffle partitions so
    tiny-DF tests don't schedule hundreds of empty tasks."""
    return build_session(
        app_name="olap-project-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
