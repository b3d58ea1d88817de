"""Layout rewrites must place range boundaries deterministically.

``repartitionByRange`` samples its input to pick partition boundaries,
and the sampling seed is derived from the RDD id — i.e. from session
history. Under the default 100-points-per-partition hint that made the
physical layout of a clustered rewrite visibly run-dependent: the same
``compact_snapshots(cluster_by=...)`` could scatter a zone-map box over
a different number of files depending on how many jobs the session had
run before.

The fix scopes a 10_000-point sampling hint around every manifest
layout-rewrite job (``_tight_range_boundaries``): at test/gate scale
the reservoir then keeps every row, so boundaries are exact quantiles
— identical no matter what ran before in the session. These tests pin
that by running the same rewrite twice in one session with junk jobs
in between (to shift the RDD-id-derived seed) and requiring the
physical layouts to be byte-equal in their recorded stats.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from olap_project_spark.export.manifest_sink import (
    _log,
    compact_snapshots,
    save_manifest,
    write_partitioned,
)


def _last_commit_stats(path: str, col: str) -> list[tuple]:
    log = _log(path)
    _v, m = max(log, key=lambda vm: vm[0])
    stats = m.get("file_stats") or {}
    return sorted(
        tuple(stats.get(f, {}).get(col) or []) for f in m["files"]
    )


def _shift_session_seed(spark, n: int) -> None:
    """Burn a few RDD ids so a later repartitionByRange draws a
    different sampling seed than the previous identical call."""
    for i in range(n):
        spark.range(100 + i).rdd.count()


@pytest.fixture()
def zpts(spark):
    # 4096 rows whose cluster key is a permutation of 0..4095 (7919 is
    # coprime to 4096), uncorrelated with `id`: small enough for an
    # exact reservoir.
    return spark.range(4096).select(
        F.col("id"), ((F.col("id") * 7919) % 4096).alias("key")
    )


def test_clustered_rewrite_layout_is_session_independent(spark, zpts):
    roots = []
    layouts = []
    try:
        for burn in (0, 7):
            root = tempfile.mkdtemp(prefix="range_det_")
            roots.append(root)
            path = f"{root}/t"
            save_manifest(zpts.repartition(8, "id"), path)
            _shift_session_seed(spark, burn)
            compact_snapshots(
                spark, path, zpts.schema, cluster_by=["key"], n_files=8
            )
            layouts.append(_last_commit_stats(path, "key"))
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

    # exact reservoir => exact quantile boundaries => identical layout
    assert layouts[0] == layouts[1]
    # and the layout is genuinely clustered: 8 non-overlapping ranges
    ranges = [r for r in layouts[0] if r]
    assert len(ranges) == 8
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo


def test_partitioned_write_one_file_per_transform_value(spark):
    # write_partitioned with n_files == n_distinct transform values
    # must land exactly one file per value — the oracle-pinned
    # "one file per day" contract — which only holds when boundaries
    # are exact, not sampled loosely.
    df = spark.range(3000).select(
        F.col("id"),
        F.to_timestamp(
            F.concat(
                F.lit("2024-01-"),
                F.lpad((F.col("id") % 10 + 1).cast("string"), 2, "0"),
                F.lit(" 12:00:00"),
            )
        ).alias("ts"),
    )
    layouts = []
    roots = []
    try:
        for burn in (0, 5):
            root = tempfile.mkdtemp(prefix="range_det_pt_")
            roots.append(root)
            path = f"{root}/t"
            _shift_session_seed(spark, burn)
            write_partitioned(
                spark, df, path, col="ts", kind="days", n_files=10
            )
            log = _log(path)
            _v, m = max(log, key=lambda vm: vm[0])
            pr = m.get("file_partitions") or {}
            layouts.append(
                sorted(tuple(pr[f]) for f in m["files"] if f in pr)
            )
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)

    assert layouts[0] == layouts[1]
    # exactly one file per day, each covering a single day value
    assert len(layouts[0]) == 10
    assert all(r[0] == r[1] for r in layouts[0])
