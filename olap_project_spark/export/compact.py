"""Small-file compaction for streaming sink directories.

The reference controlled file count with ``coalesce(1)`` before every
sink (spark_streaming_consumer.py:317, :350) — one writer task, one
file per micro-batch, and a single-threaded bottleneck at any real
rate. Our sinks instead write one file per task, sink and day
partition, in parallel; the cost is many small files accumulating in
hot partitions. This job is the periodic fix: rewrite a partition's
files into ~target-sized ones.

Scale: compaction is per-partition (pruned read → write), so it
parallelizes over partitions and never touches cold history. The
rewrite is atomic-enough for append-only readers via the staging-dir +
rename pattern used here; a table format (Delta/Iceberg) would make it
transactional — out of scope for a filesystem sink."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_partition(
    spark: SparkSession,
    table_dir: str,
    partition: dict[str, int | str],
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> tuple[int, int]:
    """Rewrite one partition directory's parquet files into
    ~``target_file_bytes`` files. Returns (files_before, files_after).

    The partition predicate prunes the read; output file count is sized
    from the partition's actual bytes (min 1)."""
    part_path = Path(table_dir)
    for k, v in partition.items():
        part_path = part_path / f"{k}={v}"
    if not part_path.is_dir():
        raise FileNotFoundError(f"no such partition: {part_path}")

    files_before = [p for p in part_path.glob("*.parquet") if p.is_file()]
    total_bytes = sum(p.stat().st_size for p in files_before)
    n_files = max(1, round(total_bytes / target_file_bytes))

    df = spark.read.parquet(str(part_path))
    staging = tempfile.mkdtemp(prefix="compact-", dir=str(part_path.parent))
    df.repartition(n_files).write.mode("overwrite").parquet(staging)

    for p in files_before:
        p.unlink()
    for p in Path(staging).glob("*.parquet"):
        shutil.move(str(p), str(part_path / p.name))
    shutil.rmtree(staging, ignore_errors=True)

    files_after = len(list(part_path.glob("*.parquet")))
    return len(files_before), files_after
