"""Exactly-once warehouse append via a manifest-commit sink — the
commit protocol the reference's DAG lacks (bigquery_update_scheduler.py
:249-282 stages a CSV and issues WRITE_APPEND with no transactional
fence: a retried task double-loads). One write path,
:func:`save_manifest`, and one read path, :func:`read_committed` /
:func:`read_pruned`; the table has no ``spark.read`` or ``readStream``
format:

1. every task of one ``mapInArrow`` job writes its rows to a
   uniquely-named ``part-*.parquet`` under ``<path>/_staging/``
   (Arrow-batched columnar writes — bounded memory per task, column
   pruning and predicate pushdown for every reader) and returns the
   file name + row count as its commit message;
2. the DRIVER, only after every task succeeded, atomically renames a
   ``_manifest-<uuid>.json`` into place listing exactly the committed
   files;
3. readers (:func:`read_committed`) fold the manifests' file lists on
   the driver into ONE scan of the live files — orphaned staging files
   from failed attempts are invisible, so the sink is
   effectively-exactly-once per query even under task retries
   (``collect`` returns each partition's commit message once, from
   the attempt that succeeded).
   When a task fails mid-write, or the driver fails before the version
   claim or after it but before the manifest is moved into place,
   readers still see the pre-commit state, one retry commits the rows
   exactly once, and :func:`vacuum_snapshots` collects the failed
   attempt's staging files and its crashed claim
   (``test_manifest_sink.py::
   test_failed_save_is_invisible_and_retry_commits_once``).

Row-level deletes are tombstones: :func:`delete_where` writes the key
set as one staging file and commits it from the driver, with no Spark
job for a local key frame. A read turns each tombstone into one filter
on that scan, built from keys the driver reads with pyarrow — no join
and no broadcast job. The bound: a delete's key set must fit in driver
memory. :func:`maintain` materializes tombstones on the driver, also
with no Spark job: it rewrites, with pyarrow, only the files a
tombstone hits, and retains every other file by name.

A table keeps ONE schema (:func:`table_schema` raises on a commit whose
columns or types differ), so every committed file reads under it. The
log (:func:`_log`) refuses entries written by table verbs this module
no longer has, rather than fold past them and misread the table.

This is the same fence Iceberg/Delta build on (manifest = the commit),
reduced to its teachable core. At scale the manifest holds file paths +
stats, not data — commit cost is O(tasks), independent of row volume.
Pre-columnar tables (staging files named ``part-*.jsonl``) stay
readable: the read path dispatches on extension and unions, so a table
migrates to parquet by simply compacting (the rewrite snapshot is
written through the current writer).

Durability boundary: the commit point is ``os.replace`` after a
version claim. The claim is the ONE store-specific primitive, so it is
a pluggable seam (:class:`VersionClaimer`): the default
:class:`PosixVersionClaimer` uses ``O_CREAT|O_EXCL`` — atomic on POSIX
filesystems and HDFS, NOT on S3-style object stores (rename is
copy+delete and create-exclusive is unavailable) — and
:class:`ConditionalPutClaimer` carries the same protocol to object
stores via conditional PUT (If-None-Match) or an external log service,
which is exactly why Delta ships per-store LogStore implementations
and Iceberg uses a catalog swap; the rest of the protocol (staging
files + manifest listing) is store-agnostic and carries over unchanged.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import uuid
from collections import OrderedDict
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from olap_project_spark.functions.localframe import (
    _as_struct,
    arrow_table,
    local_frame,
)


@dataclass
class _PartCommit:
    file_name: str
    n_rows: int
    col_stats: dict | None = None  # col -> [min, max] for orderable types
    part_range: list | None = None  # [min, max] transform value
    # exact per-partition-tuple row counts for this file —
    # [[ [v1, v2, ...], n_rows ], ...] over the spec list's transform
    # values, capped at PART_VALUES_CAP distinct tuples (None past the
    # cap or when any spec slot saw nulls) — the record that powers
    # the table$partitions metadata surface with zero data scans
    part_rows: list | None = None
    # exact per-column null counts (col -> n) — metadata-only
    # COUNT(col)/IS NULL accounting; recorded for every column
    col_nulls: dict | None = None


# Per-file cap on recorded partition tuples: a data file that spans
# more distinct partition values than this records no value-level
# stats (range pruning still applies); bounds manifest size — a
# well-laid-out file covers FEW partitions, which is the layout
# write_partitioned produces.
PART_VALUES_CAP = 128


# ---------------------------------------------------------------------------
# HIDDEN PARTITIONING — Iceberg-style partition transforms. The table
# records a transform SPEC ({"col", "kind", "arg"}) per manifest and a
# per-file transform-value range; readers prune files by a predicate on
# the SOURCE column with no materialized partition column and no layout
# knowledge in the query — the reference's year/month/day directory
# scheme (spark_streaming_consumer.py:323) generalized into table
# metadata. Supported kinds: identity, truncate[W] and bucket[N] on
# integers, year/month/days/hours on timestamps. All except bucket are
# MONOTONE in the source value, so a source range [lo, hi] maps to the
# transform range [T(lo), T(hi)]; bucket prunes equality probes only.
# ---------------------------------------------------------------------------
_EPOCH_ORDINAL = 719163  # date(1970, 1, 1).toordinal()


def _parse_transform(raw) -> dict:
    spec = json.loads(raw) if isinstance(raw, str) else dict(raw)
    kind = spec.get("kind")
    if kind not in ("identity", "truncate", "bucket", "year", "month",
                    "days", "hours"):
        raise ValueError(f"unknown partition transform kind: {kind!r}")
    if not spec.get("col"):
        raise ValueError("partition transform needs a 'col'")
    if kind in ("truncate", "bucket"):
        arg = spec.get("arg")
        if not isinstance(arg, int) or arg < 1:
            raise ValueError(f"{kind} transform needs a positive int arg")
    return {"col": spec["col"], "kind": kind, "arg": spec.get("arg")}


def _parse_transforms(raw) -> list[dict]:
    """Normalize the ``partition_transform`` option to a SPEC LIST —
    Iceberg partition specs are multi-field (e.g. days(ts) +
    bucket(user)); a single dict stays the canonical one-field form."""
    val = json.loads(raw) if isinstance(raw, str) else raw
    if isinstance(val, dict):
        return [_parse_transform(val)]
    specs = [_parse_transform(s) for s in val]
    if not specs:
        raise ValueError("partition_transform list is empty")
    if len({s["col"] for s in specs}) != len(specs):
        raise ValueError("one transform per source column")
    return specs


def _specs_of(m: dict) -> list[dict]:
    """The manifest's recorded spec list (a one-field spec is stored
    as a bare dict for round-11 back-compat)."""
    raw = m.get("partition_transform")
    if raw is None:
        return []
    return [raw] if isinstance(raw, dict) else list(raw)


def _ranges_of(value, n_specs: int) -> list:
    """Normalize a file's recorded transform range(s) to a list
    aligned with the spec list (a one-field range is stored flat)."""
    if value is None:
        return [None] * n_specs
    if n_specs == 1 and value and not isinstance(value[0], list):
        return [value]
    return list(value)


def _transform_scalar(spec: dict, v) -> int:
    """Apply the transform to ONE source value (planning-side: maps a
    predicate bound into transform space). Timestamps accept Python
    datetime/date; integer kinds accept ints. Python floor-mod keeps
    truncate/bucket correct for negative values."""
    import datetime as _dt

    kind = spec["kind"]
    if kind == "identity":
        return int(v)
    if kind == "truncate":
        return int(v) - (int(v) % spec["arg"])
    if kind == "bucket":
        return int(v) % spec["arg"]
    if isinstance(v, str):
        v = _dt.datetime.fromisoformat(v)
    if kind == "year":
        return v.year - 1970
    if kind == "month":
        return (v.year - 1970) * 12 + v.month - 1
    if kind == "days":
        d = v.date() if isinstance(v, _dt.datetime) else v
        return d.toordinal() - _EPOCH_ORDINAL
    # hours: naive timestamps are wall-clock UTC under the engine's
    # UTC session timezone (session.build_session). timedelta
    # floor-division FLOORS (matching the writer's microsecond floor
    # for pre-epoch values); int(total_seconds()) would truncate
    # toward zero and disagree in the final second before the epoch
    epoch = _dt.datetime(1970, 1, 1)
    return (v - epoch) // _dt.timedelta(hours=1)


def _transform_array(spec: dict, arr):
    """Vectorized transform of one Arrow array → int64 numpy values
    (writer-side: per-batch transform-range tracking). Returns None
    when any null is present — the file then records no partition
    range and is never pruned, matching the zone-map contract."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if arr.null_count:
        return None
    kind = spec["kind"]
    if kind in ("identity", "truncate", "bucket"):
        if not pa.types.is_integer(arr.type):
            return None
        v = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        if kind == "identity":
            return v
        if kind == "truncate":
            return v - np.mod(v, spec["arg"])
        return np.mod(v, spec["arg"])
    if not pa.types.is_timestamp(arr.type):
        return None
    if kind == "year":
        return pc.year(arr).to_numpy(zero_copy_only=False).astype(
            np.int64
        ) - 1970
    if kind == "month":
        y = pc.year(arr).to_numpy(zero_copy_only=False).astype(np.int64)
        m = pc.month(arr).to_numpy(zero_copy_only=False).astype(np.int64)
        return (y - 1970) * 12 + m - 1
    us = arr.cast(pa.int64()).to_numpy(zero_copy_only=False)
    if kind == "days":
        return us // 86_400_000_000
    return us // 3_600_000_000  # hours


def transform_column(spec: dict):
    """The Spark Column mirroring the transform — what
    :func:`write_partitioned` range-partitions by, so files land with
    tight transform ranges. Timestamp kinds assume the engine's UTC
    session pin (every load path sets it)."""
    from pyspark.sql import functions as _F

    c = _F.col(spec["col"])
    kind = spec["kind"]
    if kind == "identity":
        return c
    if kind == "truncate":
        return c - _F.pmod(c, _F.lit(spec["arg"]))
    if kind == "bucket":
        return _F.pmod(c, _F.lit(spec["arg"]))
    if kind == "year":
        return _F.year(c) - _F.lit(1970)
    if kind == "month":
        return (_F.year(c) - _F.lit(1970)) * 12 + _F.month(c) - _F.lit(1)
    if kind == "days":
        return _F.datediff(c, _F.lit("1970-01-01"))
    return _F.floor(_F.unix_timestamp(c) / _F.lit(3600))  # hours


class VersionClaimer:
    """The ONE primitive of the commit protocol that must be atomic per
    backing store: claiming an integer snapshot version such that two
    racing committers can never both own it. Everything else (staging
    files, manifest content, the read path) is store-agnostic — which
    is exactly why Delta ships per-store ``LogStore`` implementations
    and Iceberg swaps a catalog pointer: the claim is the only part
    that changes shape between POSIX/HDFS and S3-class object stores.

    ``claim(path, version)`` returns True iff THIS caller won the
    version; ``claimed_versions(path)`` lists every claimed version
    (won by anyone, committed or still in flight) so the committer can
    pick the next free number; ``release(path, version)`` frees a
    claim whose commit will never complete (abandoned branches,
    stale-claim GC) — a no-op where the claim IS the manifest file
    (POSIX), a store delete where it lives elsewhere.

    Every consumer of the commit-in-flight signal (vacuum's orphan-GC
    guard, publish's main-head computation) derives it from THIS
    interface — a version claimed here but with no readable manifest
    file is in flight, whether or not any file exists yet — so the not-yet-readable-gap guarantees survive a
    claimer whose claims live outside the filesystem."""

    def claim(self, path: str, version: int) -> bool:
        raise NotImplementedError

    def claimed_versions(self, path: str) -> list[int]:
        raise NotImplementedError

    def can_release(self) -> bool:
        """Whether :meth:`release` will succeed — checked BEFORE any
        destructive step that must be followed by a release, so a
        release-incapable claimer (conditional PUT without a delete
        callable) degrades to skipping the operation instead of
        half-performing it."""
        return True

    def release(self, path: str, version: int) -> None:
        """Free an abandoned claim (default: nothing to do — POSIX
        claims are the manifest files themselves, removed by the
        caller)."""

    def in_flight_versions(self, path: str) -> set[int]:
        """Claimed versions whose manifest content is not yet
        readable — the commit-in-flight set every gap-rule consumer
        (publish's main-head computation, vacuum's orphan-GC guard)
        obtains from THIS method. Derived, not overridden: (claims ∪
        on-disk version files) minus
        readable-manifest versions — the union covers both claim
        shapes (POSIX claims ARE the version files; conditional-PUT
        claims live in the store while an unparseable on-disk file can
        still appear mid-``os.replace``)."""
        files, parsed = _parse_all(path)
        return (set(self.claimed_versions(path)) | set(files)) - set(
            parsed
        )


class PosixVersionClaimer(VersionClaimer):
    """Default claimer: ``O_CREAT|O_EXCL`` on the manifest's final
    name — atomic on POSIX filesystems and HDFS. The empty claimed
    file doubles as the read path's commit-in-flight signal until
    ``os.replace`` lands the content."""

    def claim(self, path: str, version: int) -> bool:
        final = os.path.join(path, f"_manifest-{version:06d}.json")
        try:
            fd = os.open(final, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        os.close(fd)
        return True

    def claimed_versions(self, path: str) -> list[int]:
        return [v for v, _ in _list_manifests(path)]


class ConditionalPutClaimer(VersionClaimer):
    """Object-store-shaped claimer: the claim is a conditional PUT
    (S3 ``If-None-Match: *`` / GCS ``x-goog-if-generation-match: 0``
    semantics) against an injected key-value store, because
    create-exclusive and atomic rename do not exist on S3-class
    stores. ``store`` models the minimal object-store API the
    protocol needs: a ``put_if_absent(key) -> bool`` callable (a real
    deployment backs it with S3 conditional PUT or a DynamoDB lock
    table, which is precisely Delta's ``S3DynamoDBLogStore``). The
    claim registry lives in the store, NOT the filesystem — the
    in-flight signal moves with it."""

    def __init__(self, put_if_absent, list_claimed, delete=None):
        self._put_if_absent = put_if_absent
        self._list_claimed = list_claimed
        self._delete = delete

    @staticmethod
    def _key(path: str, version: int) -> str:
        return f"{path}/_manifest-{version:06d}.json"

    def claim(self, path: str, version: int) -> bool:
        return self._put_if_absent(self._key(path, version))

    def claimed_versions(self, path: str) -> list[int]:
        return list(self._list_claimed(path))

    def can_release(self) -> bool:
        return self._delete is not None

    def release(self, path: str, version: int) -> None:
        """Remove the claim from the store — without this, an
        abandoned branch's or stale-claim GC's freed version stays a
        permanent phantom claim (vacuum counts it in-flight forever).
        ``delete`` is the store's delete-object callable (S3 DeleteObject / the lock
        table's delete item); constructing the claimer without one
        keeps the old never-release behavior and is rejected HERE, at
        release time, so read-only deployments still work."""
        if self._delete is None:
            raise NotImplementedError(
                "this ConditionalPutClaimer was built without a "
                "delete callable; abandon_branch and stale-claim GC "
                "need one to free claims"
            )
        self._delete(self._key(path, version))


_VERSION_CLAIMER: VersionClaimer = PosixVersionClaimer()


def set_version_claimer(claimer: VersionClaimer) -> VersionClaimer:
    """Install a claim strategy (returns the previous one, so tests
    and store-specific deployments can swap and restore)."""
    global _VERSION_CLAIMER
    prev = _VERSION_CLAIMER
    _VERSION_CLAIMER = claimer
    return prev


class ManifestWriter:
    def __init__(self, options, schema: StructType | None = None):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_sink requires a 'path' option")
        self.kind = options.get("kind", "append")
        if self.kind not in ("append", "rewrite", "delete", "merge"):
            raise ValueError(f"unknown manifest kind: {self.kind}")
        # MERGE (upsert) commits: ONE atomic snapshot that is both the
        # tombstone and the insert — the manifest's data files hold the
        # update rows, and ``merge_keys`` names the key columns whose
        # projection of those same rows tombstones the matched
        # pre-merge state. No separate delete files exist, so there is
        # no two-commit window a reader could observe half of (the
        # Iceberg-v2 single-snapshot delete-file + data-file shape,
        # specialized to whole-row upserts where tombstone keys ARE a
        # projection of the new rows).
        mk = options.get("merge_keys")
        self.merge_keys: list | None = json.loads(mk) if mk else None
        if (self.kind == "merge") != (self.merge_keys is not None):
            raise ValueError("kind='merge' and merge_keys come together")
        if self.merge_keys is not None:
            if not self.merge_keys:
                raise ValueError("merge_keys must name at least one column")
            if schema is not None:
                missing = set(self.merge_keys) - {f.name for f in schema.fields}
                if missing:
                    raise ValueError(
                        f"merge_keys {sorted(missing)} not in the "
                        "update rows' schema"
                    )
        # write-audit-publish: a branch-tagged commit claims a version
        # in the shared sequence but is INVISIBLE to main readers until
        # published (the tag is dropped atomically by publish_branch)
        self.branch = options.get("branch")
        # opt-in EAGER file staging: declared layouts (the range-
        # partitioned rewrite verbs / write_partitioned) contract one
        # file per declared range, empty ranges included — their file
        # counts are part of the layout the oracles pin. Accidental-
        # width writes leave this off and skip empty partitions' files.
        self.eager_files = str(options.get("eager_files", "")) == "1"
        # opt-in BUCKETED layout (Spark-native bucketing): the caller
        # guarantees the incoming DataFrame is hash-partitioned
        # ``n_buckets``-ways on ``bucket_by`` (``df.repartition(n, col)``
        # — HashPartitioning's pmod(murmur3, n) IS Spark's bucket-id
        # function), each task embeds its partition id in the file name
        # as the bucket id Spark's scan parses, and the layout is
        # recorded in the manifest — so a catalog
        # registration (:func:`register_bucketed_table`) gives every
        # future join/agg on the key an exchange-free plan.
        self.bucket_by = options.get("bucket_by")
        nb = options.get("n_buckets")
        self.n_buckets = int(nb) if nb is not None else None
        if (self.bucket_by is None) != (self.n_buckets is None):
            raise ValueError("bucket_by and n_buckets come together")
        # dedicated staging subdirectory for this commit's files —
        # required for bucketed commits (a catalog table's LOCATION is
        # directory-scoped, so the bucketed snapshot needs a directory
        # that holds exactly its own files)
        self.subdir = options.get("subdir")
        if self.subdir is not None and (
            "/" in self.subdir or self.subdir.startswith(".")
        ):
            raise ValueError(f"invalid staging subdir: {self.subdir!r}")
        if self.bucket_by is not None and self.subdir is None:
            raise ValueError("bucketed commits require a 'subdir' option")
        # HIDDEN PARTITIONING: a transform SPEC LIST recorded per
        # manifest (Iceberg multi-field partition specs — e.g.
        # days(ts) + bucket(user)); each task tracks its file's
        # [min, max] value per transform so readers prune by
        # source-column predicates with no materialized partition
        # column (see _parse_transforms)
        pt = options.get("partition_transform")
        self.partition_transforms = _parse_transforms(pt) if pt else None
        if self.partition_transforms is not None and schema is not None:
            names = {f.name for f in schema.fields}
            missing = [
                s["col"]
                for s in self.partition_transforms
                if s["col"] not in names
            ]
            if missing:
                raise ValueError(
                    f"partition transform columns {missing} not in schema"
                )
        # partial-rewrite support: JSON map of RETAINED file name →
        # {"rows": n, "stats": zone-map} carried verbatim into the
        # rewrite manifest beside the newly-written files (the caller —
        # compact_range — computes it from the current committed state)
        retain = options.get("retain")
        self.retain: dict = json.loads(retain) if retain else {}
        # caller-generated opaque token recorded in the manifest: the
        # ONLY race-free way for an API caller to find the version ITS
        # write committed (a post-write "latest version" re-read can
        # pick up a concurrent writer's commit instead)
        self.commit_token = options.get("commit_token")
        # free-form snapshot summary (Iceberg snapshot-summary /
        # Delta commitInfo shape): a JSON object recorded verbatim in
        # the manifest and surfaced by table_history — the seam write
        # APIs use to make their provenance (e.g. a caller's
        # idempotence record) part of the table's audit trail
        cp = options.get("commit_props")
        self.commit_props: dict | None = json.loads(cp) if cp else None
        if self.commit_props is not None and not isinstance(
            self.commit_props, dict
        ):
            raise ValueError("commit_props must be a JSON object")
        # recorded in the manifest so readers can DISCOVER the table
        # schema instead of knowing it
        self.schema = schema

    # Rows buffered before flushing to the parquet writer — bounds task
    # memory to O(batch), not O(partition), and keeps row groups at the
    # historical 64k size (incoming Arrow batches are
    # ``spark.sql.execution.arrow.maxRecordsPerBatch`` ≈ 10k rows).
    # Timestamp columns: the incoming batches carry
    # timestamp[us, tz=<session tz>] and the target schema is
    # timestamp[us, tz=UTC]; the cast is epoch-preserving, so the
    # stored instant is the same whatever the session timezone.
    BATCH_ROWS = 65536

    def write(
        self, iterator: Iterator["pa.RecordBatch"], force_file: bool = False  # noqa: F821
    ) -> _PartCommit:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        staging = os.path.join(self.path, "_staging")
        out_dir = (
            os.path.join(staging, self.subdir) if self.subdir else staging
        )
        os.makedirs(out_dir, exist_ok=True)
        base = f"part-{uuid.uuid4().hex}"
        if self.bucket_by is not None:
            # the task's partition id IS the bucket id (the caller
            # repartitioned by pmod(murmur3(key), n)); the `_NNNNN`
            # suffix is the exact pattern Spark's bucketed scan parses
            from pyspark import TaskContext

            bucket_id = TaskContext.get().partitionId()
            if bucket_id >= self.n_buckets:
                raise ValueError(
                    f"task partition {bucket_id} >= n_buckets "
                    f"{self.n_buckets}: the input was not repartitioned "
                    "n_buckets-ways on the bucket key"
                )
            base += f"_{bucket_id:05d}"
        name = f"{base}.parquet"
        arrow_schema = to_arrow_schema(self.schema)
        cols = [f.name for f in self.schema.fields]
        n = 0
        stats: dict[str, list] = {}  # zone map: col -> [min, max]
        disabled: set[str] = set()  # null/complex seen → no zone map
        # exact per-column null counts (metadata-only COUNT(col)):
        # tracked for EVERY column, independent of the zone map's
        # null-disabling rule
        nulls: dict[str, int] = {c: 0 for c in cols}

        def feed_stats(batch: "pa.RecordBatch") -> None:
            # vectorized zone-map update (Arrow min_max kernel); a
            # column drops out of the zone map on the first null or
            # non-orderable-scalar value, matching the read contract
            # (files without a map for a column are never skipped)
            for c in cols:
                arr0 = batch.column(batch.schema.get_field_index(c))
                nulls[c] += arr0.null_count
                if c in disabled:
                    continue
                arr = arr0
                if arr.null_count or not (
                    pa.types.is_integer(arr.type)
                    or pa.types.is_floating(arr.type)
                    or pa.types.is_string(arr.type)
                    or pa.types.is_large_string(arr.type)
                ):
                    disabled.add(c)
                    stats.pop(c, None)
                    continue
                mm = pc.min_max(arr)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                s = stats.get(c)
                if s is None:
                    stats[c] = [lo, hi]
                else:
                    if lo < s[0]:
                        s[0] = lo
                    if hi > s[1]:
                        s[1] = hi

        # per-file transform-value range PER SPEC (hidden
        # partitioning); a spec's slot falls to None on
        # nulls/untransformable values — the file is then never pruned
        # on that transform, the zone-map conservatism contract
        n_specs = (
            len(self.partition_transforms)
            if self.partition_transforms
            else 0
        )
        part_ranges: list = [None] * n_specs
        # exact tuple-level row counts (the table$partitions record);
        # disabled (None) on the first null-bearing batch or past the
        # PART_VALUES_CAP distinct-tuple bound
        part_counts: dict | None = {} if n_specs else None

        def feed_partition(batch) -> None:
            nonlocal part_counts
            import numpy as _np

            batch_vals: list = []
            for i, spec in enumerate(self.partition_transforms or ()):
                if part_ranges[i] is False:
                    batch_vals.append(None)
                    continue  # disabled for this spec
                arr = batch.column(
                    batch.schema.get_field_index(spec["col"])
                )
                vals = _transform_array(spec, arr)
                if vals is None or len(vals) == 0:
                    part_ranges[i] = False
                    batch_vals.append(None)
                    continue
                batch_vals.append(vals)
                lo, hi = int(vals.min()), int(vals.max())
                if part_ranges[i] is None:
                    part_ranges[i] = [lo, hi]
                else:
                    part_ranges[i][0] = min(part_ranges[i][0], lo)
                    part_ranges[i][1] = max(part_ranges[i][1], hi)
            if part_counts is None:
                return
            if any(v is None for v in batch_vals):
                part_counts = None  # conservatism: no value-level stats
                return
            # vectorized tuple histogram over the Arrow batch
            stacked = _np.stack(batch_vals, axis=1)
            uniq, counts = _np.unique(stacked, axis=0, return_counts=True)
            for t, c in zip(uniq.tolist(), counts.tolist()):
                key = tuple(t)
                part_counts[key] = part_counts.get(key, 0) + c
            if len(part_counts) > PART_VALUES_CAP:
                part_counts = None

        # Arrow batches arrive straight from the JVM (no Row
        # materialization — guide-§4 boundary hygiene); align each to
        # the declared write schema (a cast is epoch-preserving for
        # timestamps and a no-op otherwise), feed the metadata
        # trackers batch-wise, and buffer up to BATCH_ROWS before each
        # parquet row-group write so the on-disk layout matches the
        # historical row-path files.
        #
        # The parquet file is created LAZILY, on the first non-empty
        # batch: a task whose partition carries no rows stages NO file
        # (file_name=None; commit() drops it). A tombstone or merge
        # frame arriving through a default-width exchange would
        # otherwise stage dozens of empty parquet files per commit —
        # every later read then stats, lists, and anti-joins them
        # (measured: a 2-key SQL DELETE committed 32 files, 30 empty).
        # Bucketed layouts are the exception: their contract is one
        # file per bucket id, empty buckets included, so they keep the
        # eager create.
        pending: list = []
        pending_rows = 0
        writer: "pq.ParquetWriter | None" = None
        force_file = (
            force_file or self.bucket_by is not None or self.eager_files
        )

        def flush() -> None:
            nonlocal pending, pending_rows, writer
            if writer is None and (pending or force_file):
                # Spark, the table's reader, ignores pyarrow's
                # ARROW:schema footer key (~1.2 KB per file)
                writer = pq.ParquetWriter(
                    os.path.join(out_dir, name),
                    arrow_schema,
                    store_schema=False,
                )
            if pending:
                writer.write_table(
                    pa.Table.from_batches(pending, schema=arrow_schema)
                )
                pending, pending_rows = [], 0

        try:
            if force_file:
                flush()  # eager create: the empty file IS the payload
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if batch.schema != arrow_schema:
                    batch = pa.record_batch(
                        [
                            batch.column(
                                batch.schema.get_field_index(c)
                            ).cast(arrow_schema.field(c).type)
                            for c in cols
                        ],
                        schema=arrow_schema,
                    )
                n += batch.num_rows
                feed_partition(batch)
                feed_stats(batch)
                pending.append(batch)
                pending_rows += batch.num_rows
                if pending_rows >= self.BATCH_ROWS:
                    flush()
            flush()
        finally:
            # a failing input (or flush) must not leak the open file
            # handle; the partial file is an unreferenced staging
            # orphan, collected by vacuum_snapshots
            if writer is not None:
                writer.close()
        if writer is None:
            return _PartCommit(file_name=None, n_rows=0)
        return _PartCommit(
            # staging-relative name: commits into a dedicated subdir
            # carry the "<subdir>/" prefix everywhere the file is named
            file_name=f"{self.subdir}/{name}" if self.subdir else name,
            n_rows=n,
            col_stats=stats,
            # flat [lo, hi] for a one-field spec (round-11 on-disk
            # form); list-of-ranges for multi-field specs; None when
            # no spec or every slot disabled
            part_range=(
                None
                if not n_specs
                or all(r in (None, False) for r in part_ranges)
                else (
                    (part_ranges[0] if part_ranges[0] is not False else None)
                    if n_specs == 1
                    else [
                        (r if r is not False else None)
                        for r in part_ranges
                    ]
                )
            ),
            part_rows=(
                [
                    [list(t), int(c)]
                    for t, c in sorted(part_counts.items())
                ]
                if part_counts
                else None
            ),
            col_nulls=dict(nulls),
        )

    def commit(self, messages: list[_PartCommit]) -> None:
        # Sequential snapshot versions: each commit claims the next
        # integer version with an O_EXCL create (two racing committers
        # cannot claim the same version; the loser retries the next
        # number). The table's state at version v = the union of all
        # commits with version <= v — append-only snapshot semantics,
        # which is what makes read_committed(as_of=...) time travel.
        #
        # Empty partitions staged no file (lazy create in write());
        # drop their messages here. A commit whose EVERY partition was
        # empty still stages one empty file (driver-side) so
        # schema-recording commits (CREATE TABLE) keep their on-disk
        # shape and the table directory exists before the claim — unless
        # it retains files (a rewrite whose new files all came out empty).
        messages = [m for m in messages if m.file_name is not None]
        if not messages and not self.retain:
            messages = [self.write(iter(()), force_file=True)]
        manifest = {
            "kind": self.kind,
            "files": sorted(m.file_name for m in messages),
            "n_rows": sum(m.n_rows for m in messages),
            # per-file zone maps: the data-skipping index readers use
            # to plan scans without opening files
            "file_stats": {
                m.file_name: m.col_stats for m in messages if m.col_stats
            },
            # per-file row counts: the `table$files` metadata surface
            # (planning row estimates without opening footers)
            "file_rows": {m.file_name: m.n_rows for m in messages},
            # per-file per-column null counts: metadata-only
            # COUNT(col) and the IS NULL accounting zone maps drop
            # (they disable on the first null by contract)
            "file_nulls": {
                m.file_name: m.col_nulls
                for m in messages
                if m.col_nulls is not None
            },
        }
        if self.bucket_by is not None:
            # layout metadata: readers can
            # register the snapshot as a Spark bucketed table and run
            # exchange-free joins/aggs on the bucket key. Validate the
            # layout BEFORE it becomes a manifest: every bucket id in
            # [0, n_buckets) must appear exactly once (each partition
            # writes one file, empty partitions included) — an input
            # repartitioned fewer ways than n_buckets would otherwise
            # commit a layout whose bucket-id assumption is false and
            # an exchange-free join would silently drop matches. (A
            # repartition on the WRONG key at the right width remains
            # the caller's contract — only compact_snapshots calls
            # this, and it repartitions on bucket_by itself.)
            bucket_ids = sorted(
                int(m.file_name.rsplit("_", 1)[1].split(".")[0])
                for m in messages
            )
            if bucket_ids != list(range(self.n_buckets)):
                raise ValueError(
                    f"bucketed commit expected one file per bucket id "
                    f"0..{self.n_buckets - 1}, got {bucket_ids}: the "
                    "input was not repartitioned n_buckets-ways on the "
                    "bucket key"
                )
            manifest["bucket_by"] = self.bucket_by
            manifest["n_buckets"] = self.n_buckets
        if self.subdir is not None:
            manifest["layout_dir"] = self.subdir
        if self.retain:
            # PARTIAL rewrite (OPTIMIZE WHERE): the rewrite manifest
            # must list the FULL consolidated state, so the untouched
            # files — with their zone maps and row counts — are folded
            # in beside the newly-written ones.
            if self.kind != "rewrite":
                raise ValueError("'retain' applies to rewrite commits only")
            manifest["files"] = sorted(
                set(manifest["files"]) | set(self.retain)
            )
            manifest["n_rows"] += sum(
                e.get("rows", 0) for e in self.retain.values()
            )
            for name, entry in self.retain.items():
                if entry.get("stats"):
                    manifest["file_stats"][name] = entry["stats"]
                if "rows" in entry:
                    manifest["file_rows"][name] = entry["rows"]
                if entry.get("nulls") is not None:
                    manifest["file_nulls"][name] = entry["nulls"]
        if self.partition_transforms is not None:
            manifest["partition_transform"] = (
                self.partition_transforms[0]
                if len(self.partition_transforms) == 1
                else self.partition_transforms
            )
            fparts = {
                m.file_name: m.part_range
                for m in messages
                if m.part_range is not None
            }
            # partial rewrites carry RETAINED files' transform ranges
            # beside the newly-computed ones (compact_range includes
            # them only when they were recorded under THIS spec)
            for name, entry in self.retain.items():
                if entry.get("part") is not None:
                    fparts[name] = entry["part"]
            manifest["file_partitions"] = fparts
            # exact per-tuple row counts (table$partitions): new files'
            # histograms plus retained files' carried ones
            prows = {
                m.file_name: m.part_rows
                for m in messages
                if m.part_rows is not None
            }
            for name, entry in self.retain.items():
                if entry.get("prows") is not None:
                    prows[name] = entry["prows"]
            if prows:
                manifest["file_partition_rows"] = prows
        if self.merge_keys is not None:
            manifest["merge_keys"] = self.merge_keys
        if self.commit_token is not None:
            manifest["commit_token"] = self.commit_token
        if self.commit_props is not None:
            manifest["props"] = self.commit_props
        if self.schema is not None:
            manifest["schema"] = self.schema.jsonValue()
        if self.branch is not None:
            manifest["branch"] = self.branch
        tmp = os.path.join(self.path, f"._manifest-{uuid.uuid4().hex}.tmp")
        while True:
            version = 1 + max(
                _VERSION_CLAIMER.claimed_versions(self.path), default=0
            )
            if not _VERSION_CLAIMER.claim(self.path, version):
                continue  # lost the race for this version; take the next
            final = os.path.join(self.path, f"_manifest-{version:06d}.json")
            manifest["version"] = version
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, final)  # the atomic commit point
            break


def _list_manifests(path: str) -> list[tuple[int, str]]:
    """(version, filename) for every committed manifest. Legacy
    uuid-named manifests (pre-versioning) sort first as version 0."""
    out: list[tuple[int, str]] = []
    if not os.path.isdir(path):
        return out  # never-written table: no commits
    for entry in sorted(os.listdir(path)):
        if entry.startswith("_manifest-") and entry.endswith(".json"):
            stem = entry[len("_manifest-") : -len(".json")]
            out.append((int(stem) if stem.isdigit() else 0, entry))
    return out


# ---------------------------------------------------------------------------
# In-process parsed-log cache.
#
# Every driver-side planning step — read planning, schema resolution,
# pruning, metadata tables — funnels through _log()/_parse_all().
# Without a cache each call re-opens and re-JSON-parses the latest
# checkpoint bundle PLUS the log tail; a lifecycle operation makes dozens of such
# calls, so driver work grows quadratically in log depth per session.
# The cache makes each call O(#log files) stat()s instead: a scandir
# fingerprint of every manifest + checkpoint file's (name, mtime_ns,
# size) validates the cached parse, so ANY commit — a new manifest, a
# claim file landing its os.replace, a branch publish rewriting a
# manifest IN PLACE, a vacuum removing one, a new checkpoint —
# invalidates it without writer coordination, including commits made
# by OTHER processes (no in-process hook could see those). Entries are
# parsed checkpoint-first exactly as _log() always has; the checkpoint
# is a pure parse cache (it can never change WHAT is read), so serving
# _parse_all() from the same entries is content-identical to its old
# per-file parse. Consumers never mutate returned manifests (audited;
# publish_branch copies before popping), so sharing the parsed dicts
# is safe.
_SCAN_CACHE: OrderedDict[
    str, tuple[tuple, list[tuple[int, str, dict | None]]]
] = OrderedDict()
_SCAN_CACHE_MAX = 32
_SCAN_LOCK = threading.Lock()
_SCAN_STATS = {"hits": 0, "rebuilds": 0, "extends": 0}


def clear_log_cache() -> None:
    """Drop every cached parsed log (tests; long-lived sessions that
    want to bound memory across thousands of tables)."""
    with _SCAN_LOCK:
        _SCAN_CACHE.clear()
        _SCAN_STATS["hits"] = 0
        _SCAN_STATS["rebuilds"] = 0
        _SCAN_STATS["extends"] = 0


def _log_fingerprint(path: str) -> tuple | None:
    """Stat-level fingerprint of the log directory: (name, mtime_ns,
    size) for every manifest and checkpoint file, sorted. One syscall
    per file — no opens, no JSON. None when the table directory does
    not exist (never-written table)."""
    try:
        it = os.scandir(path)
    except OSError:
        return None
    fp: list[tuple[str, int, int]] = []
    with it:
        for de in it:
            n = de.name
            if not n.endswith(".json"):
                continue
            if not (
                n.startswith("_manifest-")
                or n.startswith("_logcheckpoint-")
            ):
                continue
            try:
                st = de.stat()
            except OSError:
                continue  # racing remove: next call re-fingerprints
            fp.append((n, st.st_mtime_ns, st.st_size))
    fp.sort()
    return tuple(fp)


def _scan_log(path: str) -> list[tuple[int, str, dict | None]]:
    """(version, filename, parsed manifest | None) for every committed
    manifest file, in :func:`_list_manifests` order — the ONE parse
    pass behind :func:`_log` and :func:`_parse_all`, cached per
    process and validated by :func:`_log_fingerprint` on every call.
    ``None`` marks an unreadable entry (an in-flight claim mid-write,
    a corrupt file) — the in-flight signal the claimer derivation
    consumes."""
    fp = _log_fingerprint(path)
    if fp is None:
        return []
    with _SCAN_LOCK:
        hit = _SCAN_CACHE.get(path)
        if hit is not None and hit[0] == fp:
            _SCAN_CACHE.move_to_end(path)
            _SCAN_STATS["hits"] += 1
            return hit[1]
    entries = None
    if hit is not None:
        entries = _extend_scan(path, hit[0], hit[1], fp)
    if entries is None:
        ck = _latest_checkpoint(path)
        entries = []
        for version, entry in _list_manifests(path):
            m = ck.get(version)
            if m is None:
                try:
                    with open(os.path.join(path, entry)) as f:
                        m = json.load(f)
                except (json.JSONDecodeError, OSError):
                    m = None
            entries.append((version, entry, m))
        with _SCAN_LOCK:
            _SCAN_STATS["rebuilds"] += 1
            _SCAN_CACHE[path] = (fp, entries)
            _SCAN_CACHE.move_to_end(path)
            while len(_SCAN_CACHE) > _SCAN_CACHE_MAX:
                _SCAN_CACHE.popitem(last=False)
    return entries


def _extend_scan(
    path: str,
    old_fp: tuple,
    old_entries: list[tuple[int, str, dict | None]],
    fp: tuple,
) -> list[tuple[int, str, dict | None]] | None:
    """INCREMENTAL cache update for the append-only common case: when
    the fingerprint changed ONLY by manifest files appended past the
    old tail (every old file identical, no checkpoint churn, new names
    sorting strictly after — so in-place publishes, vacuums, landed
    claims, and legacy unordered names all fall through), parse just
    the new files and extend the cached list. This turns a lifecycle
    session's write→plan loop from O(log²) total parse work into
    O(log): each plan call after a commit parses ONE new manifest.
    Returns None when the mutation shape is anything else — the caller
    rebuilds from scratch (correctness never rests on this path)."""
    old_map = {name: (mt, sz) for name, mt, sz in old_fp}
    new_names = []
    for name, mt, sz in fp:
        prev = old_map.pop(name, None)
        if prev is None:
            new_names.append(name)
        elif prev != (mt, sz):
            return None  # in-place change (publish/landed claim)
    if old_map:
        return None  # a file vanished (vacuum/abandon)
    if not all(
        n.startswith("_manifest-") and n.endswith(".json")
        for n in new_names
    ):
        return None  # checkpoint churn: rebuild against the new bundle
    last_old = max(
        (e for _v, e, _m in old_entries), default=""
    )
    new_names.sort()
    if new_names and last_old and new_names[0] <= last_old:
        return None  # out-of-order name (legacy uuid): full rebuild
    entries = list(old_entries)
    for name in new_names:
        stem = name[len("_manifest-") : -len(".json")]
        version = int(stem) if stem.isdigit() else 0
        try:
            with open(os.path.join(path, name)) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            m = None
        entries.append((version, name, m))
    with _SCAN_LOCK:
        _SCAN_STATS["extends"] = _SCAN_STATS.get("extends", 0) + 1
        _SCAN_CACHE[path] = (fp, entries)
        _SCAN_CACHE.move_to_end(path)
    return entries


def _parse_all(path: str) -> tuple[dict[int, str], dict[int, dict]]:
    """ONE parse pass over the manifest log: (version → filename,
    version → parsed manifest for the readable subset), the substrate
    of the in-flight derivation."""
    scan = _scan_log(path)
    files = {version: entry for version, entry, _m in scan}
    last: dict[int, dict | None] = {}
    for version, _entry, m in scan:
        last[version] = m  # last filename per version wins, as before
    parsed = {v: m for v, m in last.items() if m is not None}
    return files, parsed


def table_versions(path: str) -> list[int]:
    """Committed snapshot versions, ascending — the time-travel axis."""
    return sorted(v for v, _ in _list_manifests(path))


def committed_versions(path: str) -> list[int]:
    """Versions with a READABLE MAIN manifest — excludes in-flight
    claims and unpublished branch commits. This is the axis tags and
    API return values use; :func:`table_versions` remains the raw
    claimed-file listing (vacuum's bookkeeping axis). Versions behind
    a later RESTORE stay listed — they remain time-travel targets."""
    return sorted(v for v, _m in _log(path, raw=True))


def _read_files(
    spark: SparkSession, path: str, schema, names, drops=()
) -> DataFrame:
    """Scan exactly the named committed staging files. Parquet is the
    data plane (columnar: the scan prunes columns and pushes predicates
    into row-group filters); legacy ``.jsonl`` files from pre-columnar
    commits are still read (extension dispatch + unionByName), so a
    table migrates formats by simply compacting. Missing-in-file
    columns read as NULL against the explicit schema in BOTH formats.

    Each ``drops`` predicate removes its matching rows. They apply to
    each format's scan before the union: a predicate may name the
    scan's ``_metadata.file_name``, which does not resolve over the
    union.

    The scan is one task when the files fit one partition: when they
    total no more than ``min(spark.sql.files.openCostInBytes,
    spark.sql.files.maxPartitionBytes)`` it is coalesced to one
    partition, so a group-by, global aggregate, sort or window over it
    plans no exchange (one job, no shuffle). The driver stats the
    files until the running total passes the limit; a larger read
    keeps Spark's split planning."""
    names = sorted(names)
    if not names:
        return local_frame(spark, [], schema)
    staging = os.path.join(path, "_staging")
    pq = [os.path.join(staging, n) for n in names if n.endswith(".parquet")]
    js = [os.path.join(staging, n) for n in names if not n.endswith(".parquet")]
    parts = []
    if pq:
        parts.append(spark.read.schema(schema).parquet(*pq))
    if js:
        parts.append(spark.read.schema(schema).json(js))
    df = None
    for p in parts:
        for drop in drops:
            p = p.filter(~drop)
        df = p if df is None else df.unionByName(p)
    conf = spark._jsparkSession.sessionState().conf()
    limit = min(conf.filesOpenCostInBytes(), conf.filesMaxPartitionBytes())
    total = 0
    for f in pq + js:
        total += os.path.getsize(f)
        if total > limit:
            return df
    return df.coalesce(1)


def _read_staged(path: str, name: str, asch, columns=None) -> "pa.Table":  # noqa: F821
    """One committed staging file as an Arrow table under ``asch``,
    read on the driver with pyarrow: parquet, or a legacy ``.jsonl``
    file (an empty one reads as no rows). ``columns`` reads only those
    columns."""
    import pyarrow as pa
    import pyarrow.json as pj
    import pyarrow.parquet as pq

    if columns is not None:
        asch = pa.schema([asch.field(c) for c in columns])
    f = os.path.join(path, "_staging", name)
    if name.endswith(".parquet"):
        t = pq.read_table(f, columns=asch.names)
    elif os.path.getsize(f):
        t = pj.read_json(
            f,
            parse_options=pj.ParseOptions(
                explicit_schema=asch, unexpected_field_behavior="ignore"
            ),
        )
    else:
        return asch.empty_table()
    return t.select(asch.names)


def _tombstone_keys(path: str, m: dict, version: int):
    """(key schema, key table) of a delete or merge snapshot, read from
    its own files with pyarrow: a delete's recorded key schema, or a
    merge's ``merge_keys`` projected from its rows' recorded schema.
    Rows holding a null are dropped: a null key never matches."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    if "schema" not in m:
        raise ValueError(f"{m['kind']} snapshot {version} recorded no schema")
    ks = StructType.fromJson(m["schema"])
    if m["kind"] == "merge":
        ks = StructType([ks[k] for k in m["merge_keys"]])
    asch = to_arrow_schema(ks)
    parts = [_read_staged(path, n, asch).cast(asch) for n in m["files"]]
    return ks, pa.concat_tables([asch.empty_table(), *parts]).drop_null()


def _key_hit(key_schema: StructType, rows: list[tuple]):
    """Column that is true exactly on the rows whose key equals one of
    ``rows`` — an anti-join's match as a predicate: ``isin`` for a
    one-column key, an OR of ANDs otherwise, and false (never null)
    when a key column is null."""
    from functools import reduce
    from operator import and_

    from pyspark.sql import functions as _F

    keys = [f.name for f in key_schema.fields]
    if not rows:
        return _F.lit(False)
    if len(keys) == 1:
        hit = _F.col(keys[0]).isin([r[0] for r in rows])
    else:
        terms = [
            reduce(and_, [_F.col(k) == v for k, v in zip(keys, r)])
            for r in rows
        ]
        while len(terms) > 1:  # a balanced OR: depth log2(|rows|)
            terms = [
                terms[i] | terms[i + 1] if i + 1 < len(terms) else terms[i]
                for i in range(0, len(terms), 2)
            ]
        hit = terms[0]
    return _F.coalesce(hit, _F.lit(False))


def _tombstone_hit(path: str, m: dict, version: int):
    """:func:`_key_hit` of a delete or merge snapshot's distinct keys."""
    ks, keys = _tombstone_keys(path, m, version)
    rows = dict.fromkeys(zip(*(c.to_pylist() for c in keys.columns)))
    return _key_hit(ks, list(rows))


def _committed_entry_of(
    path: str, token: str, branch: str | None = None
) -> tuple[int, dict]:
    """(version, manifest) of the commit that recorded ``token`` — the
    race-free post-write lookup every write-API return value uses
    (scanning for "the latest version" instead would attribute a
    CONCURRENT writer's commit to this caller)."""
    for version, m in reversed(_log(path, branch=branch, raw=True)):
        if m.get("commit_token") == token and m.get("branch") == branch:
            return version, m
    raise RuntimeError(
        f"commit with token {token!r} not found at {path}; the write "
        "did not land"
    )


def _fold(
    log: list[tuple[int, dict]],
) -> tuple[list[str], list[tuple[int, int, dict]]]:
    """The live data files of ``log`` in commit order, and each delete
    or merge since the last rewrite as (live files before it — the ones
    it applies to —, version, manifest). A rewrite resets both."""
    live: list[str] = []
    tombs: list[tuple[int, int, dict]] = []
    for version, m in log:
        kind = m.get("kind", "append")
        if kind == "rewrite":
            live, tombs = [], []
        if kind in ("delete", "merge"):
            tombs.append((len(live), version, m))
        if kind != "delete":
            live += m["files"]  # metadata-only commits list no files
    return live, tombs


def read_committed(
    spark: SparkSession,
    path: str,
    schema,
    as_of: int | None = None,
    _keep: set | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read ONLY manifest-committed files (uncommitted staging output is
    invisible). ``as_of`` reads the table AS OF that snapshot version —
    the union of all commits with version <= as_of, so a reader can
    reproduce yesterday's training set after today's append.
    Driver-side listing is O(#manifests); the data read is ONE
    columnar scan of exactly the live files, run as one task when the
    files fit one partition (:func:`_read_files`).

    Row-level DELETES (Iceberg-v2-style equality deletes, written via
    :func:`delete_where`) apply MERGE-ON-READ: the log folds in commit
    order on the driver (:func:`_fold`) — appends add live files, a
    rewrite resets the state to its files (every rewrite holds the
    deletes before it applied: compaction rewrites through this reader,
    and :func:`maintain` rewrites each file a delete hits and retains
    only files none hits), and each delete adds ONE filter to the
    scan. The filter drops the rows whose key equals one of the delete's keys, which the driver
    reads from the tombstone files with pyarrow (:func:`_key_hit`: a
    null on either side never matches, as in an anti-join). A delete
    that precedes only some of the scanned files is scoped to them by
    ``_metadata.file_name``, so a key re-inserted AFTER its delete
    survives (the sequence-number rule). A MERGE snapshot (atomic
    upsert, :func:`merge_upsert`) folds as delete-then-insert from ONE
    commit: a delete whose keys are the key projection of the merge's
    OWN data files, then the append of those files — matched rows
    replaced, unmatched inserted, no intermediate state ever readable.
    The bound of this design: each delete's key set is held in driver
    memory and planned as literals, so it must fit there.

    ``_keep`` restricts the DATA files scanned (zone-map pruning);
    tombstones are never pruned — a pruned-out merge file still
    deletes its keys, it just isn't scanned as data — correctness
    over skipping."""
    live, tombs = _fold(_log(path, as_of, branch))
    scanned = live if _keep is None else [f for f in live if f in _keep]
    from pyspark.sql import functions as _F

    drops = []
    for n_before, version, m in tombs:
        covered = set(live[:n_before])
        later = [f for f in scanned if f not in covered]
        if len(later) == len(scanned):
            continue  # precedes no scanned file
        drop = _tombstone_hit(path, m, version)
        if later:  # scope to the files the delete precedes
            drop = drop & ~_F.col("_metadata.file_name").isin(
                [os.path.basename(f) for f in later]
            )
        drops.append(drop)
    return _read_files(spark, path, schema, scanned, drops)


def delete_where(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    branch: str | None = None,
) -> int:
    """Row-level DELETE from the manifest table without rewriting any
    data file — an equality-delete snapshot (Iceberg v2 merge-on-read):
    ``keys``' rows are written as one tombstone file, and every
    committed row matching a tombstone on ALL of ``keys``' columns
    disappears from subsequent reads (of versions >= this one —
    earlier versions still time-travel to the undeleted state). A key
    holding a null matches nothing. The delete runs in the driver:
    ``keys.collect()`` (no Spark job for a local frame such as
    ``createDataFrame(pa.table(...))``, one job otherwise), then
    :meth:`ManifestWriter.write` and :meth:`ManifestWriter.commit`,
    the same steps every commit runs. So the key set must fit in
    driver memory, as it must for every read that applies it
    (:func:`read_committed`). The rows stay on disk until
    :func:`maintain` rewrites the files that hold them and vacuums the
    old files, tombstones and manifests; only this table is erased —
    the ingest sinks (``streaming.pipeline``) still keep the card.
    ``branch`` stages the delete on a write-audit-publish
    branch instead of committing it to main directly. Returns the new
    snapshot version."""
    token = uuid.uuid4().hex
    opts = {"path": path, "kind": "delete", "commit_token": token}
    if branch is not None:
        opts["branch"] = branch
    writer = ManifestWriter(opts, schema=keys.schema)
    batches = arrow_table(keys.collect(), keys.schema).to_batches()
    writer.commit([writer.write(iter(batches))])
    return _committed_entry_of(path, token, branch)[0]


def tag_snapshot(
    path: str, name: str, version: int | None = None
) -> int:
    """Create an immutable NAMED TAG for a snapshot version — the
    Iceberg tag / Delta named-version ref: ``read_committed(path,
    schema, as_of=read_tag(path, name))`` then reproduces the tagged
    state forever (or until vacuum expires the underlying versions —
    expiry is the documented retention boundary, same as Iceberg's).
    Defaults to tagging the current head. Tags are immutable by
    contract (re-tagging a name raises — drop it first with
    :func:`drop_tag`); the tag file is written atomically via the same
    tmp + ``os.replace`` pattern as commits.

    Scale: a tag is one O(1) metadata file — the mechanism that makes
    'the exact training set of run X' a durable, named artifact
    instead of a copied table."""
    if "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name: {name!r}")
    versions = committed_versions(path)  # never an in-flight or
    # unpublished-branch version: a tag must resolve to main state
    if version is None:
        version = max(versions, default=0)
    if version not in versions:
        raise ValueError(f"cannot tag version {version}: not committed")
    final = os.path.join(path, f"_tag-{name}.json")
    tmp = os.path.join(path, f"._tag-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump({"name": name, "version": version}, f)
    try:
        # link is create-EXCLUSIVE and delivers full content atomically
        # (no exists-then-replace TOCTOU: two racing taggers cannot
        # both win, and no reader ever sees a half-written tag)
        os.link(tmp, final)
    except FileExistsError:
        raise ValueError(
            f"tag {name!r} already exists; drop it first"
        ) from None
    finally:
        os.remove(tmp)
    return version


def read_tag(path: str, name: str) -> int:
    """Resolve a named tag to its snapshot version."""
    final = os.path.join(path, f"_tag-{name}.json")
    try:
        with open(final) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        raise ValueError(f"no tag {name!r} at {path}") from None


def list_tags(path: str) -> dict[str, int]:
    """Every tag name → version, the table's named-ref catalog."""
    out: dict[str, int] = {}
    if not os.path.isdir(path):
        return out
    for entry in sorted(os.listdir(path)):
        if entry.startswith("_tag-") and entry.endswith(".json"):
            try:
                with open(os.path.join(path, entry)) as f:
                    m = json.load(f)
                out[m["name"]] = int(m["version"])
            except (json.JSONDecodeError, OSError, KeyError):
                continue
    return out


def drop_tag(path: str, name: str) -> bool:
    """Remove a tag (the ref only — never the data); False if absent."""
    try:
        os.remove(os.path.join(path, f"_tag-{name}.json"))
        return True
    except FileNotFoundError:
        return False


def _commit_manifest_dict(path: str, manifest: dict) -> int:
    """Commit a driver-built manifest through the SAME claim protocol
    the Spark writer uses (claim the next version exclusively, write
    to a temp name, ``os.replace`` as the atomic commit point) — the
    shared primitive for metadata-only commits (RESTORE) that carry
    no new data files and therefore need no Spark job."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"._manifest-{uuid.uuid4().hex}.tmp")
    while True:
        version = 1 + max(
            _VERSION_CLAIMER.claimed_versions(path), default=0
        )
        if not _VERSION_CLAIMER.claim(path, version):
            continue
        final = os.path.join(path, f"_manifest-{version:06d}.json")
        manifest["version"] = version
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, final)
        return version


def restore_table(path: str, version: int) -> int:
    """RESTORE the table to an earlier snapshot as a NEW commit — the
    Delta ``RESTORE TABLE ... TO VERSION AS OF`` contract. The commit
    is METADATA-ONLY: one ``kind='restore'`` manifest recording the
    target version; no data file is read, copied, or rewritten, so
    restoring a 100-TB table costs one JSON write. Readers expand it
    through the effective log (:func:`_effective`): the state at/after
    the restore version equals the state as of the target (including
    across delete/merge tombstone folds — the expansion replays the
    ORIGINAL log prefix, so merge-on-read semantics are preserved
    exactly), while ``as_of`` reads BELOW the restore still see the
    pre-restore history unchanged — restore never rewrites the past,
    it appends a new head. History (``table_history``) shows the
    restore event; :func:`read_changes` emits its row-level symmetric
    diff; vacuum refuses snapshot
    expiry that would cut a retained restore's target out from under
    it. Restoring PAST a restore chains correctly (the target's own
    effective state is what returns).

    Rejected: a target that is not a readable main snapshot (expired,
    in-flight, branch-staged, or future), and restoring while
    unpublished WAP branches exist — their staged commits were built
    on the pre-restore head; publish or abandon them first (the same
    fast-forward discipline :func:`publish_branch` enforces).

    Returns the new snapshot version. Reference analogue: the closest
    behavior the reference has is re-running its daily batch export
    over yesterday's partition directories
    (bigquery_update_scheduler.py:163-231) — recovery by reprocessing;
    here recovery is a constant-time catalog operation."""
    committed = committed_versions(path)
    if version not in committed:
        raise ValueError(
            f"restore target {version} is not a readable main snapshot "
            f"at {path} (committed: {committed})"
        )
    staged_branches = sorted(
        {
            m.get("branch")
            for _v, entry in _list_manifests(path)
            for m in (_load_manifest_or_none(path, entry),)
            if m is not None and m.get("branch") is not None
        }
    )
    if staged_branches:
        raise ValueError(
            f"cannot restore while write-audit-publish branches "
            f"{staged_branches} hold unpublished commits built on the "
            "current head; publish or abandon them first"
        )
    return _commit_manifest_dict(
        path,
        {"kind": "restore", "restore_as_of": version, "files": []},
    )


def _load_manifest_or_none(path: str, entry: str) -> dict | None:
    """Parse one manifest file, None for in-flight/corrupt content —
    the tolerant single-file read the scan loops share."""
    try:
        with open(os.path.join(path, entry)) as f:
            return json.load(f)
    except (json.JSONDecodeError, OSError):
        return None


def set_partition_spec(
    path: str, transforms: list[tuple] | tuple | None
) -> int:
    """PARTITION-SPEC EVOLUTION — Iceberg's ``ALTER TABLE … ADD/
    REPLACE PARTITION FIELD`` as a METADATA-ONLY ``kind='alter'``
    commit: no data file moves; the table's DECLARED spec changes, and
    the two eras coexist. ``transforms`` is ``(col, kind[, arg])`` or
    a list of such tuples (the multi-field spec shape
    :func:`compact_snapshots` takes), or ``None`` to unpartition.

    Era semantics fall out of the per-manifest design: every data
    manifest already records the spec its files were written under
    plus per-file transform ranges, and the planners
    (:func:`plan_pruned_files`, the public reader's ``_excluded``)
    evaluate each file against ITS OWN recorded spec — so after an
    evolution, old files keep pruning under the old spec and new
    files under the new one, exactly Iceberg's mixed-spec contract.
    What this commit changes is the DECLARED CURRENT spec:

    - :func:`write_partitioned` with no explicit transform follows it
      (writers inherit the table's layout, Iceberg-style);
    - :func:`maintain` and the scoped rewrites record it: the files
      they write carry ranges under the CURRENT spec, and a retained
      file keeps its ranges only when they were recorded under it;
    - :func:`table_partitions` treats it as the reference spec: files
      written under an older spec report as unaccounted (their
      histograms describe different tuples) until a rewrite refreshes
      them.

    The alter changes no columns and no rows: reads, metadata
    aggregates, and the CDF are unaffected. Spec columns must exist in
    the current schema.
    Returns the new snapshot version."""
    sch = table_schema(path)
    if sch is None:
        raise ValueError(
            f"no recorded schema at {path}; nothing to partition"
        )
    specs = None
    if transforms is not None:
        fields = (
            transforms if isinstance(transforms, list) else [transforms]
        )
        specs = _parse_transforms(
            [
                {"col": c, "kind": k, "arg": (rest[0] if rest else None)}
                for c, k, *rest in fields
            ]
        )
        names = {f.name for f in sch.fields}
        missing = [s["col"] for s in specs if s["col"] not in names]
        if missing:
            raise ValueError(
                f"partition spec references unknown column(s) "
                f"{missing}; schema has {sorted(names)}"
            )
    return _commit_manifest_dict(
        path,
        {
            "kind": "alter",
            "partition_spec": specs,
            "schema": sch.jsonValue(),
            "files": [],
        },
    )


def current_partition_spec(
    path: str, as_of: int | None = None
) -> list[dict] | None:
    """The table's DECLARED current partition spec: the latest signal
    in the effective log wins, whether a :func:`set_partition_spec`
    alter or an explicit :func:`write_partitioned` (a writer declaring
    a spec evolves the table's layout as much as an alter does — the
    round-11 behavior, kept). ``None`` = unpartitioned."""
    spec: list[dict] | None = None
    for _version, m in _log(path, as_of):
        if m.get("kind") == "alter" and "partition_spec" in m:
            spec = m["partition_spec"]
        else:
            sp = _specs_of(m)
            if sp:
                spec = sp
    return spec


def clone_table(
    src: str,
    dst: str,
    as_of: int | None = None,
    include_tags: bool = True,
) -> dict:
    """ZERO-COPY clone of the manifest table — Delta SHALLOW CLONE /
    Iceberg register_table, strengthened to a FULL-HISTORY clone: the
    source's main manifests at/<= ``as_of`` are replayed verbatim into
    ``dst`` (claimed at their ORIGINAL version numbers through the
    standard protocol), and every staging file they reference — data,
    tombstones, bucketed-layout subdirs — is hard-linked, not copied.
    The clone is then a fully independent table: its own commit log,
    its own tags, its own vacuum/compaction/restore lifecycle, with
    time travel to every cloned version intact — yet zero data bytes
    were moved (``os.link`` shares inodes; cloning a 100-TB table
    costs O(#manifests + #files) metadata operations).

    Divergence is free in both directions: appends/deletes/restores on
    either side are invisible to the other. Unlike Delta's shallow
    clone — where VACUUM on the source BREAKS clones that reference
    its files — POSIX hard links make the clone vacuum-proof: the
    source deleting its directory entry leaves the clone's link (and
    the shared inode) alive. On an object store (no links) a
    deployment substitutes server-side copy (S3 CopyObject is a
    metadata operation within a bucket) — the manifest-replay protocol
    is unchanged; ``copied_fallback`` counts files that fell back to a
    byte copy here (cross-device links).

    Branch-staged source commits are NOT cloned (they are unpublished
    by definition); in-flight claims below ``as_of`` become permanent
    version holes the readers already skip. ``include_tags`` carries
    the source's named tags whose target is <= ``as_of``.

    Returns {"versions_cloned", "files_linked", "copied_fallback",
    "head_version"}. Refuses a ``dst`` that already holds manifests —
    clone creates tables, it never splices histories."""
    committed = committed_versions(src)
    if not committed:
        raise ValueError(f"no committed snapshots to clone at {src}")
    if as_of is None:
        as_of = committed[-1]
    elif as_of not in committed:
        raise ValueError(
            f"clone as_of={as_of} is not a readable main snapshot at "
            f"{src} (committed: {committed})"
        )
    if os.path.isdir(dst) and _list_manifests(dst):
        raise ValueError(
            f"clone destination {dst} already holds a committed table"
        )
    src_staging = os.path.join(src, "_staging")
    dst_staging = os.path.join(dst, "_staging")
    os.makedirs(dst_staging, exist_ok=True)
    linked = 0
    copied = 0
    seen: set[str] = set()
    log = _log(src, as_of=as_of, raw=True)
    for _version, m in log:
        for name in m.get("files", []):
            if name in seen:
                continue  # rewrites re-reference earlier files
            seen.add(name)
            s = os.path.join(src_staging, name)
            d = os.path.join(dst_staging, name)
            os.makedirs(os.path.dirname(d), exist_ok=True)
            try:
                os.link(s, d)
                linked += 1
            except OSError:
                shutil.copy2(s, d)  # cross-device: byte copy fallback
                copied += 1
    for version, m in log:
        if not _VERSION_CLAIMER.claim(dst, version):
            raise RuntimeError(
                f"version {version} already claimed at fresh clone "
                f"destination {dst}; a concurrent writer is racing the "
                "clone"
            )
        tmp = os.path.join(dst, f"._manifest-{uuid.uuid4().hex}.tmp")
        final = os.path.join(dst, f"_manifest-{version:06d}.json")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, final)
    if include_tags:
        for name, target in list_tags(src).items():
            if target <= as_of:
                tag_snapshot(dst, name, target)
    return {
        "versions_cloned": len(log),
        "files_linked": linked,
        "copied_fallback": copied,
        "head_version": as_of,
    }


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    branch: str | None = None,
    props: dict | None = None,
) -> dict:
    """MERGE (upsert) into the manifest table as ONE ATOMIC SNAPSHOT,
    merge-on-read style: a single ``kind='merge'`` commit whose data
    files hold the update rows and whose recorded ``merge_keys``
    tombstone the matched pre-merge state (the tombstone keys are the
    key projection of the commit's OWN files, so no separate delete
    files exist). Matched keys are replaced, unmatched keys are
    inserted, and NO existing data file is read or rewritten. Cost is
    O(|updates|) writes + one manifest; the reconciliation happens
    lazily in :func:`read_committed`'s fold (:func:`maintain`
    materializes it). This is the Iceberg-v2 single-snapshot
    delete-file + data-file shape — the merge economics that make CDC
    upserts tractable at 100 TB, where the copy-on-write alternative
    rewrites every file containing a matched key.

    Atomicity: the commit point is the one ``os.replace`` of the one
    manifest, so a reader pinned at any version sees exactly the
    pre-merge state or exactly the post-merge state — the
    delete-applied-but-not-yet-reinserted window of a two-commit MERGE
    cannot be observed. ``updates``' plan is evaluated exactly once
    (the write job), so non-deterministic inputs cannot diverge
    between tombstone and insert legs — both are the same rows by
    construction. ``branch`` stages the merge on a write-audit-publish
    branch; publish flips its ONE manifest atomically.

    Returns {"version", "n_updates", "n_data_files"}."""
    if not keys:
        raise ValueError("merge_upsert requires at least one key column")
    # a merge records its rows' schema (it IS a data commit), so check
    # it against the table's one schema BEFORE the commit: a frame with
    # other columns or types would otherwise land and make schema
    # discovery raise for every subsequent reader
    current = table_schema(path)
    if current is not None and _columns(updates.schema) != _columns(current):
        raise ValueError(
            f"merge_upsert update rows {_columns(updates.schema)} differ "
            f"from the table schema {_columns(current)}; MERGE is "
            "whole-row — supply full rows of the table's schema"
        )
    token = uuid.uuid4().hex
    opts = {
        "kind": "merge",
        "merge_keys": json.dumps(list(keys)),
        "commit_token": token,
    }
    if props is not None:
        # snapshot-summary provenance: a caller's idempotence record,
        # read back from table_history
        opts["commit_props"] = json.dumps(props)
    if branch is not None:
        opts["branch"] = branch
    save_manifest(updates, path, **opts)
    version, m = _committed_entry_of(path, token, branch)
    return {
        "version": version,
        "n_updates": m["n_rows"],
        "n_data_files": len(m["files"]),
    }


def plan_compaction_ranges(
    path: str,
    col: str,
    n_ranges: int = 8,
    min_files: int = 4,
    max_avg_rows: float = 100_000,
) -> list[dict]:
    """The MAINTENANCE-POLICY advisor closing the loop to
    :func:`compact_range`: bucket the live files (``table$files``
    metadata — zone maps + row counts, no data read) into
    ``n_ranges`` equal-width key ranges, score each range's file
    population, and flag the ranges whose small-file pressure
    warrants a scoped rewrite (``file_count >= min_files`` AND
    ``avg_rows < max_avg_rows`` — many files, each small). A file
    spanning several ranges counts toward each (it would be rewritten
    by any of them). Returns one dict per range: lo, hi, file_count,
    total_rows, avg_rows, needs_compaction — driver-side,
    O(#files), the planning pass a real table service (Delta's
    auto-compaction, Iceberg's maintenance jobs) runs on metadata
    before spending I/O."""
    files = [
        f
        for f in table_files(path)
        if f["col_stats"].get(col) is not None
    ]
    if not files:
        return []
    if not all(
        isinstance(b, (int, float)) and not isinstance(b, bool)
        for f in files
        for b in f["col_stats"][col]
    ):
        raise ValueError(
            f"plan_compaction_ranges needs NUMERIC zone maps on "
            f"{col!r}; string-keyed layouts need a numeric surrogate "
            "(hash bucket, date ordinal) as the range axis"
        )
    lo = min(f["col_stats"][col][0] for f in files)
    hi = max(f["col_stats"][col][1] for f in files)
    # contiguous half-open ranges (the last closed at hi): integer
    # "width-1" arithmetic would leave 1-unit gaps on FLOAT axes where
    # a file could sit in no range and never be flagged
    width = (hi - lo) / n_ranges if hi > lo else 1.0
    out = []
    for i in range(n_ranges):
        r_lo = lo + i * width
        r_hi = hi if i == n_ranges - 1 else lo + (i + 1) * width
        last = i == n_ranges - 1
        members = [
            f
            for f in files
            if not (
                f["col_stats"][col][1] < r_lo
                or (
                    f["col_stats"][col][0] > r_hi
                    if last
                    else f["col_stats"][col][0] >= r_hi
                )
            )
        ]
        rows = sum(f["n_rows"] or 0 for f in members)
        avg = rows / len(members) if members else 0.0
        out.append(
            {
                "range_lo": r_lo,
                "range_hi": r_hi,
                "file_count": len(members),
                "total_rows": rows,
                "avg_rows": avg,
                "needs_compaction": len(members) >= min_files
                and avg < max_avg_rows,
            }
        )
    return out


@dataclass
class MaintenancePolicy:
    """One declarative knob set for the table's maintenance loop —
    what Delta's auto-compaction / Iceberg's maintenance jobs encode
    as service configuration:

    - ``col``: the numeric range axis the advisor buckets on;
    - ``n_ranges`` / ``min_files`` / ``max_avg_rows``: the advisor's
      flagging thresholds (many files, each small — see
      :func:`plan_compaction_ranges`);
    - ``n_files_per_range``: rewrite width for a scoped compaction;
    - ``vacuum``: expire pre-rewrite snapshots + collect orphans after
      a rewrite landed this pass (this is what takes deleted rows and
      their tombstones off the disk);
    - ``stale_claim_ttl_s``: forwarded to vacuum's crashed-claim GC;
    - ``checkpoint``: write a LOG CHECKPOINT (:func:`checkpoint_log`)
      at the end of every non-noop pass, so read planning parses one
      bundled file + the tail instead of the whole manifest log.
    """

    col: str
    n_ranges: int = 8
    min_files: int = 4
    max_avg_rows: float = 100_000
    n_files_per_range: int = 4
    vacuum: bool = True
    stale_claim_ttl_s: float | None = None
    checkpoint: bool = False


def _hit_rows(
    data: "pa.Table", keys: list["pa.Table"]  # noqa: F821
) -> "pa.BooleanArray":  # noqa: F821
    """Boolean mask of ``data``'s rows whose key equals a row of one of
    ``keys`` (each a null-free key table). The keys are cast to the
    file's types and matched by a hash semi-join, which never matches a
    null (``pc.is_in`` would match a null against a null in its value
    set). A key the file's type cannot hold exactly (a bigint beyond an
    int column's range) matches no row, as in the read's comparison."""
    from functools import reduce

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    row = pa.array(np.arange(data.num_rows, dtype=np.int64))
    hit = pa.array([], pa.int64())
    for k in keys:
        cols = k.column_names
        fit = [k[c].cast(data[c].type, safe=False) for c in cols]
        exact = [
            pc.equal(f.cast(k[c].type, safe=False), k[c])
            for f, c in zip(fit, cols)
        ]
        k = pa.table(fit, names=cols).filter(reduce(pc.and_, exact))
        probe = data.select(cols).append_column("__row", row)
        found = probe.join(k, cols, join_type="left semi")["__row"]
        hit = pa.concat_arrays([hit, *found.chunks])
    return pc.is_in(row, value_set=hit)


def _materialize_tombstones(path: str, schema: StructType) -> int:
    """Apply the deletes and merges since the last rewrite, on the
    driver with pyarrow (no Spark job), as ONE rewrite commit: each live
    file a tombstone precedes (:func:`_fold`) with a key hit
    (:func:`_hit_rows`) is rewritten minus its hit rows through
    :meth:`ManifestWriter.write`; every other live file is retained by
    name, so the rewrite's reset of the fold drops no row. Memory is one
    data file plus the key sets. Returns the rewrite's version."""
    import pyarrow.compute as pc

    from pyspark.sql.pandas.types import to_arrow_schema

    log = _log(path)
    live, tombs = _fold(log)
    asch = to_arrow_schema(schema)
    keys = {v: _tombstone_keys(path, m, v)[1] for _n, v, m in tombs}
    # the keys of the tombstones that precede each live file
    scope = {
        name: [keys[v] for n, v, _m in tombs if i < n and keys[v].num_rows]
        for i, name in enumerate(live)
    }
    hits = {}  # hit file -> its hit rows
    for name, ks in scope.items():
        if ks:
            cols = sorted({c for k in ks for c in k.column_names})
            mask = _hit_rows(_read_staged(path, name, asch, cols), ks)
            if mask.true_count:
                hits[name] = mask
    retain, spec = _retain_entries(path, log, set(hits))
    token = uuid.uuid4().hex
    opts = {
        "path": path,
        "kind": "rewrite",
        "retain": json.dumps(retain),
        "commit_token": token,
    }
    if spec is not None:
        opts["partition_transform"] = json.dumps(spec)
    writer = ManifestWriter(opts, schema=schema)
    msgs = []
    for name, mask in sorted(hits.items()):
        rest = _read_staged(path, name, asch).filter(pc.invert(mask))
        msgs.append(writer.write(iter(rest.to_batches())))
    writer.commit(msgs)
    return _committed_entry_of(path, token)[0]


def maintain(
    spark: SparkSession,
    path: str,
    schema,
    policy: MaintenancePolicy,
    dry_run: bool = False,
) -> dict:
    """ONE pass of the auto-maintenance loop — the promotion of the
    advise→compact chain into a single entry point a scheduler calls
    (Delta auto-compaction / Iceberg maintenance-job shape):

    1. PLAN on metadata only (:func:`plan_compaction_ranges` over the
       zone maps — no data read);
    2. if tombstones (delete/merge snapshots) sit above the latest
       rewrite, MATERIALIZE them (:func:`_materialize_tombstones`): the
       driver rewrites, with pyarrow and no Spark job, only the files
       that hold deleted rows, and retains every other file, in one
       rewrite commit. Time is proportional to the bytes of the files
       hit, not to the table. Then PLAN again;
    3. each flagged range gets a scoped :func:`compact_range` (pay I/O
       proportional to the range);
    4. a rewrite landed this pass → :func:`vacuum_snapshots` expires
       pre-rewrite history and collects orphans (per policy). With
       ``policy.vacuum`` a deleted key is then gone from every file
       under the table: data files, tombstones, manifests and log
       checkpoints. Only this table is erased: the ingest sinks
       (``streaming.pipeline``) still keep the card.

    ``dry_run=True`` returns the same report with ZERO writes — the
    operator preview. The pass is IDEMPOTENT: a second call on a
    maintained table reports ``noop=True`` and commits nothing. A pass
    that failed before its rewrite committed is redone by calling it
    again: it left only unreferenced staging files and at most a
    crashed version claim, which vacuum collects (the claim once
    ``stale_claim_ttl_s`` has passed). One that failed after the
    commit left the deleted rows out of every read, and on disk until
    the next :func:`vacuum_snapshots`.

    Returns {"dry_run", "had_tombstones", "flagged_before", "actions",
    "versions_written", "vacuum", "noop"}."""

    def flagged_ranges() -> list[dict]:
        plan = plan_compaction_ranges(
            path,
            policy.col,
            n_ranges=policy.n_ranges,
            min_files=policy.min_files,
            max_avg_rows=policy.max_avg_rows,
        )
        return [r for r in plan if r["needs_compaction"]]

    had_tombstones = _tombstones_since_last_rewrite(_log(path))
    flagged = flagged_ranges()
    report: dict = {
        "dry_run": dry_run,
        "had_tombstones": had_tombstones,
        "flagged_before": len(flagged),
        "actions": [],
        "versions_written": [],
        "vacuum": None,
        "noop": not flagged and not had_tombstones,
    }
    if dry_run or report["noop"]:
        return report
    struct = table_schema(path) or _as_struct(schema)
    if had_tombstones:
        report["versions_written"].append(_materialize_tombstones(path, struct))
        report["actions"].append("materialize")
        flagged = flagged_ranges()
    for r in flagged:
        res = compact_range(
            spark,
            path,
            struct,
            policy.col,
            r["range_lo"],
            r["range_hi"],
            n_files=policy.n_files_per_range,
        )
        if res["n_rewritten"]:
            report["actions"].append(
                f"compact_range[{r['range_lo']}, {r['range_hi']}]"
            )
            report["versions_written"].append(res["version"])
    if policy.vacuum and report["versions_written"]:
        report["vacuum"] = vacuum_snapshots(
            path, stale_claim_ttl_s=policy.stale_claim_ttl_s
        )
        report["actions"].append("vacuum")
    if policy.checkpoint:
        ck = checkpoint_log(path)
        if ck["version"] is not None:
            report["actions"].append(f"checkpoint@{ck['version']}")
        report["checkpoint"] = ck
    return report


def _effective(
    entries: list[tuple[int, dict]],
) -> list[tuple[int, dict]]:
    """Expand RESTORE snapshots into the log they denote. A
    ``kind='restore'`` manifest (written by :func:`restore_table`)
    carries no files; its meaning is "the table state becomes exactly
    what it was as of ``restore_as_of``" — so the effective log up to
    and including a restore is the (recursively expanded) prefix of
    the ORIGINAL log at/<= the target version, and later commits
    append on top of that. Expansion keeps versions ascending (the
    restored prefix's versions all precede the restore's own), so
    every fold downstream — read_committed's tombstone fold, zone-map
    pruning, table_files, schema resolution — consumes restore-free
    logs unchanged. O(n · #restores) over driver-side JSON dicts;
    restores are rare maintenance events."""
    out: list[tuple[int, dict]] = []
    for i, (version, m) in enumerate(entries):
        if m.get("kind") == "restore":
            target = int(m["restore_as_of"])
            out = _effective(
                [(v, pm) for v, pm in entries[:i] if v <= target]
            )
        else:
            out.append((version, m))
    return out


def _log(
    path: str,
    as_of: int | None = None,
    branch: str | None = None,
    raw: bool = False,
) -> list[tuple[int, dict]]:
    """(version, parsed manifest) in commit order at/<= the requested
    version; in-flight commits (claimed but unwritten version files)
    are skipped — the read path's standing contract. Branch-tagged
    commits (write-audit-publish staging) are invisible to main
    readers (``branch=None``); a branch reader sees main PLUS its own
    branch's commits, Iceberg-branch-from-main-head style.

    By default the log is the EFFECTIVE log — RESTORE snapshots are
    expanded into the state they denote (:func:`_effective`), so every
    state-folding consumer (reads, pruning, schema, compaction
    planning) sees only append/rewrite/delete/merge kinds.
    ``raw=True`` returns the physical log instead — the axis vacuum,
    branch publish/abandon, version listings, history, and the
    file-level CDF paths operate on (those either manage the manifest
    files themselves or must keep referencing pre-restore entries).

    Every entry returned passes :func:`_check_entry`, so no fold ever
    reads past an entry this module cannot interpret.

    Parsing is served by the fingerprint-validated process cache
    (:func:`_scan_log`): a call costs one stat pass over the log
    directory, not a re-parse of the checkpoint bundle + tail."""
    out: list[tuple[int, dict]] = []
    for version, _entry, m in _scan_log(path):
        if m is None:
            continue  # in-flight claim / corrupt file: not readable
        if as_of is not None and version > as_of:
            continue
        tag = m.get("branch")
        if tag is not None and tag != branch:
            continue
        _check_entry(version, m)
        out.append((version, m))
    return out if raw else _effective(out)


# The log entry kinds this module folds, and what an alter may carry:
# a partition-spec alter is the only alter left. Anything else was
# written by a table verb that no longer exists (column evolution,
# table-level row checks, per-file sketches); folding past it would
# misread the table — columns renamed by it would read back null.
_KINDS = ("append", "rewrite", "delete", "merge", "alter", "restore")
_ALTER_KEYS = {"kind", "partition_spec", "schema", "files", "version"}


def _check_entry(version: int, m: dict) -> None:
    """Raise, naming the version, on a log entry of a retired or
    unknown kind, or an alter carrying a key other than a spec."""
    kind = m.get("kind", "append")
    if kind not in _KINDS:
        raise ValueError(
            f"manifest version {version} has the retired kind {kind!r}; "
            "this module cannot read the table"
        )
    extra = sorted(set(m) - _ALTER_KEYS) if kind == "alter" else []
    if extra:
        raise ValueError(
            f"manifest version {version} is an alter carrying the retired "
            f"key {extra[0]!r}; this module cannot read the table"
        )


def _checkpoint_names(path: str) -> list[str]:
    """Every LOG CHECKPOINT filename in the table directory, newest
    (highest bundled version) first."""
    names: list[tuple[int, str]] = []
    if not os.path.isdir(path):
        return []
    for entry in os.listdir(path):
        if entry.startswith("_logcheckpoint-") and entry.endswith(".json"):
            stem = entry[len("_logcheckpoint-") : -len(".json")]
            if stem.isdigit():
                names.append((int(stem), entry))
    names.sort(reverse=True)
    return [n for _v, n in names]


def _latest_checkpoint(path: str) -> dict[int, dict]:
    """The newest readable LOG CHECKPOINT's bundled entries
    ({version: manifest}), or {} — the pure PARSE CACHE behind
    :func:`checkpoint_log`. A version absent from the bundle (a
    branch-staged commit, an in-flight claim that landed after the
    checkpoint, anything newer) simply falls back to its own file, so
    a checkpoint can never change WHAT is read — only how many files
    the driver must open to read it.

    Checkpoints are tried NEWEST-FIRST: a checkpoint that vanishes
    between the listing and the open (a racing writer retired it) or
    fails to parse (corrupt, half-written) degrades to the NEXT newest
    bundle — because :func:`checkpoint_log` retains the previous
    generation (``keep=2``), a reader racing one full churn cycle
    still plans from a bundle instead of forfeiting to a per-file
    parse of the whole log. Only when every checkpoint fails does the
    cache degrade to empty."""
    for name in _checkpoint_names(path):
        try:
            with open(os.path.join(path, name)) as f:
                bundle = json.load(f)
            return {int(v): m for v, m in bundle["entries"].items()}
        except (json.JSONDecodeError, OSError, KeyError, ValueError):
            continue  # racing retirement / corrupt: try the previous
    return {}  # no readable cache: parse the files instead


def checkpoint_log(path: str, keep: int = 2) -> dict:
    """Write a LOG CHECKPOINT — the Delta ``_last_checkpoint`` /
    Iceberg metadata-file mechanism for the manifest table: ONE JSON
    file bundling every parseable MAIN manifest of the STABLE PREFIX
    (at or below the lowest in-flight claim, so a claimed-but-unwritten
    commit that lands later is never frozen out). Read planning then
    parses 1 checkpoint + the tail instead of the whole log — at a
    100-TB table's commit cadence (thousands of manifests between
    compactions) this turns every driver-side plan from O(#manifests)
    file opens into O(#manifests-since-checkpoint) + 1.

    The checkpoint is a CACHE, not a truth: readers still LIST the
    physical manifests (vacuum-expired versions never resurrect) and
    fall back to per-file parsing for any version the bundle lacks —
    branch-staged commits (excluded by construction; they may mutate
    at publish), late-landing in-flight claims, and everything newer.
    Idempotent: re-checkpointing at the same stable head is a no-op.

    Retention (``keep``, default 2): the newest ``keep`` generations
    survive a churn — a reader that LISTED the directory just before
    this call retired the old bundle would otherwise open a vanished
    file and forfeit the optimization (correct but O(log) parses);
    keeping the previous generation closes that race for any reader at
    most one churn behind. Older generations are retired here and by
    :func:`vacuum_snapshots` (which keeps only the newest — vacuum is
    a maintenance window by contract).

    Returns {"version": k, "bundled": n} (or {"version": None} when
    there is nothing new to checkpoint)."""
    files, parsed = _parse_all(path)
    in_flight = _VERSION_CLAIMER.in_flight_versions(path)
    head = max(parsed, default=0)
    k = min(in_flight) - 1 if in_flight else head
    k = min(k, head)
    if k <= 0:
        return {"version": None, "bundled": 0}
    existing = _latest_checkpoint(path)
    entries = {
        v: m
        for v, m in parsed.items()
        if v <= k and m.get("branch") is None
    }
    if existing and max(existing, default=0) >= max(entries, default=0):
        return {"version": None, "bundled": len(existing)}
    tmp = os.path.join(path, f"._ckpt-{uuid.uuid4().hex}.tmp")
    final = os.path.join(path, f"_logcheckpoint-{k:06d}.json")
    with open(tmp, "w") as f:
        json.dump({"version": k, "entries": entries}, f)
    os.replace(tmp, final)  # atomic: readers see old or new cache
    # retire superseded caches beyond the newest `keep` generations —
    # the survivors cover readers that listed before this churn
    for entry in _checkpoint_names(path)[max(keep, 1) :]:
        try:
            os.remove(os.path.join(path, entry))
        except OSError:
            pass  # a racing reader may hold it; next pass retries
    return {"version": k, "bundled": len(entries)}


def _last_rewrite_index(log: list[tuple[int, dict]]) -> int:
    """Index of the latest rewrite snapshot in the log, or -1. A
    rewrite holds the CONSOLIDATED table state: everything below it is
    history the live file set no longer reflects, so state-sensitive
    checks (unmaterialized tombstones, spec alters) scope to the
    entries ABOVE it."""
    last_rw = -1
    for i, (_v, m) in enumerate(log):
        if m.get("kind", "append") == "rewrite":
            last_rw = i
    return last_rw


def _tombstones_since_last_rewrite(log: list[tuple[int, dict]]) -> bool:
    """True when an UNMATERIALIZED delete/merge tombstone sits above
    the latest rewrite. Tombstones below a rewrite are already folded
    into the consolidated files (compaction materializes them), so
    surfaces that cannot apply row-level tombstones — metadata
    aggregates, table$partitions — must reject only the ones above;
    rejecting on ANY historical tombstone would wedge those surfaces
    forever (old manifests persist until snapshot expiry, so 'compact
    first' would never clear the condition)."""
    return any(
        m.get("kind", "append") in ("delete", "merge")
        for _v, m in log[_last_rewrite_index(log) + 1 :]
    )


def _committed_files(
    path: str, as_of: int | None = None, branch: str | None = None
) -> list[tuple[str, dict]]:
    """(file_name, zone-map stats) for every committed DATA file at/<=
    the requested version, honoring rewrite snapshots (a rewrite
    replaces everything before it — it holds the consolidated table
    state). Delete manifests list tombstone files, not data — they are
    excluded here; tombstone application happens in
    :func:`read_committed`'s fold. MERGE manifests' files ARE data
    (the update rows) and are included; their tombstone side is a key
    projection applied in the same fold."""
    committed: list[tuple[str, dict]] = []
    for _version, m in _log(path, as_of, branch):
        if m.get("kind", "append") == "delete":
            continue
        fs = m.get("file_stats", {})
        entries = [(name, fs.get(name, {})) for name in m["files"]]
        if m.get("kind", "append") == "rewrite":
            committed = entries
        else:
            committed += entries
    return committed


def plan_pruned_files(
    path: str, col: str, lo, hi, as_of: int | None = None
) -> tuple[list[str], int]:
    """Data skipping against the manifest metadata: return (files that
    may contain rows with ``col`` in [lo, hi], total committed files).
    A file is skipped ONLY when provably excluded, by EITHER index:

    - its zone map — the recorded raw [min, max] misses the range;
    - its HIDDEN-PARTITION range — when the committing manifest
      records a partition transform ON THIS COLUMN, the query range
      maps into transform space ([T(lo), T(hi)] for the monotone
      kinds; bucket handles equality probes only) and is checked
      against the file's recorded transform range. This is what
      prunes TIMESTAMP predicates: zone maps track only
      int/float/string, so a month/days-partitioned fact prunes by
      time through the transform with no materialized date column.

    Files without either record (nulls seen, complex type, pre-stats
    manifests) are conservatively kept — skipping is an optimization,
    never a correctness gamble. The one unconditional exclusion:
    files whose manifest records ZERO rows (empty partitions of a
    range-partitioned write) provably contain nothing."""
    live: dict[str, tuple] = {}
    for _version, m in _log(path, as_of):
        kind = m.get("kind", "append")
        if kind == "delete":
            continue
        fs = m.get("file_stats", {})
        rows = m.get("file_rows", {})
        specs = _specs_of(m)
        # (index into the spec list, spec) for the transforms ON this
        # column — multi-field specs carry one range per field
        matching = [
            (i, s) for i, s in enumerate(specs) if s.get("col") == col
        ]
        fparts = m.get("file_partitions", {}) if matching else {}
        entries = {
            name: (
                fs.get(name, {}),
                matching,
                len(specs),
                fparts.get(name),
                rows.get(name),
            )
            for name in m["files"]
        }
        if kind == "rewrite":
            live = entries
        else:
            live.update(entries)
    keep = []
    for name in sorted(live):
        st, matching, n_specs, pval, n_rows = live[name]
        if n_rows == 0:
            continue  # recorded empty: provably nothing to read
        rng = (st or {}).get(col)
        excluded = rng is not None and (hi < rng[0] or lo > rng[1])
        if not excluded and matching and pval is not None:
            ranges = _ranges_of(pval, n_specs)
            for i, spec in matching:
                prng = ranges[i]
                if prng is None:
                    continue
                try:
                    tlo = _transform_scalar(spec, lo)
                    thi = _transform_scalar(spec, hi)
                except (TypeError, ValueError, AttributeError):
                    continue  # untransformable bound: no pruning here
                if spec["kind"] == "bucket":
                    # bucket is not monotone — equality probes only
                    if lo == hi and not (prng[0] <= tlo <= prng[1]):
                        excluded = True
                elif thi < prng[0] or tlo > prng[1]:
                    excluded = True
                if excluded:
                    break
        if not excluded:
            keep.append(name)
    return sorted(keep), len(live)


def table_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY for the manifest table: one dict per committed
    snapshot — version, kind (append/rewrite), file count, row count,
    and whether it recorded a schema. Driver-side, served from the
    fingerprint-validated parse cache (:func:`_scan_log`)."""
    out = []
    for version, _entry, m in _scan_log(path):
        if m is None:
            continue
        out.append(
            {
                "version": version,
                "kind": m.get("kind", "append"),
                "n_files": len(m["files"]),
                "n_rows": m.get("n_rows"),
                "has_schema": "schema" in m,
                "props": m.get("props"),
            }
        )
    return out


def table_files(
    path: str, as_of: int | None = None, branch: str | None = None
) -> list[dict]:
    """The ``table$files`` metadata surface (Iceberg's files table /
    Delta's DESCRIBE DETAIL file list): one dict per LIVE data file at
    the requested version — committing version, file name, row count
    (when the manifest recorded it), and the zone-map stats. Rewrites
    supersede earlier files exactly as the read path sees them; delete
    manifests' tombstone files are metadata, not data, and are
    excluded. Driver-side, O(#manifests)."""
    live: list[dict] = []
    for version, m in _log(path, as_of, branch):
        kind = m.get("kind", "append")
        if kind == "delete":
            continue
        rows = m.get("file_rows", {})
        stats = m.get("file_stats", {})
        entries = [
            {
                "version": version,
                "file_name": name,
                "n_rows": rows.get(name),
                "col_stats": stats.get(name, {}),
            }
            for name in m["files"]
        ]
        if kind == "rewrite":
            live = entries
        else:
            live += entries
    return live


def table_partitions(
    path: str,
    as_of: int | None = None,
    branch: str | None = None,
    strict: bool = True,
) -> dict:
    """The ``table$partitions`` METADATA TABLE (Iceberg's partitions
    table): exact per-partition file and row counts for a
    hidden-partitioned table, computed ENTIRELY from the manifest
    log — zero data files opened, zero scans. The writer records each
    file's per-partition-tuple row histogram
    (``file_partition_rows``, capped at PART_VALUES_CAP tuples per
    file); this folds them over the live file set exactly as the read
    path would (rewrites supersede, deletes excluded).

    Returns {"spec": <the latest transform spec list>, "partitions":
    [{"partition": [v, ...], "n_rows", "n_files"}, ...] sorted by
    partition tuple, "unaccounted_files": k} where ``k`` counts live
    files WITHOUT value-level stats (written before the feature,
    recorded under an older spec, past the tuple cap, or null-bearing).
    ``strict=True`` (default) raises when k > 0 — partial metadata
    must never masquerade as exact counts; ``strict=False`` returns
    the accounted subset plus the honest remainder count.

    A file is counted toward a partition only when its histogram was
    recorded under the CURRENT spec — spec evolution invalidates older
    histograms for this surface (they describe different tuples), the
    same rule compact_range applies to carried ranges.

    Scale: driver-side O(#manifests + #files·#tuples-per-file) JSON
    work; answering "how many rows landed in yesterday's partition"
    on a 100-TB fact costs no cluster time at all. DELETE/MERGE
    tombstones are NOT folded here (they are row-level, file counts
    are physical) — tables with unmaterialized tombstones ABOVE the
    latest rewrite are rejected so the counts can never silently
    overstate (compact first); tombstones a rewrite already
    materialized don't block.

    Reference analogue: the reference answers this by listing HDFS
    partition directories and counting (bigquery_update_scheduler.py:
    163-231); here it is a catalog lookup."""
    log = _log(path, as_of, branch)
    if _tombstones_since_last_rewrite(log):
        raise ValueError(
            "table$partitions requires materialized state: the log "
            "holds unmaterialized delete/merge tombstones that row "
            "counts cannot reflect — compact first"
        )

    def canon(sp):
        """Spec identity: (col, kind, arg) per field — a one-field spec
        is recorded as a bare dict, a multi-field one as a list."""
        specs = sp if isinstance(sp, list) else [sp]
        return tuple((s["col"], s.get("kind"), s.get("arg")) for s in specs)

    live: dict[str, tuple] = {}
    spec_latest = None
    spec_latest_canon = None
    for _version, m in log:
        if m.get("kind", "append") == "delete":
            continue  # materialized tombstone files are not data
        if m.get("kind") == "alter" and "partition_spec" in m:
            # spec evolution: the DECLARED spec becomes the reference;
            # files written under older specs report as unaccounted
            sp2 = m["partition_spec"]
            spec_latest = sp2
            spec_latest_canon = canon(sp2) if sp2 is not None else None
            continue
        sp = m.get("partition_transform")
        spc = canon(sp) if sp is not None else None
        pr = m.get("file_partition_rows", {})
        fr = m.get("file_rows", {})
        entries = {f: (spc, pr.get(f), fr.get(f)) for f in m["files"]}
        if m.get("kind", "append") == "rewrite":
            live = entries
        else:
            live.update(entries)
        if sp is not None:
            spec_latest, spec_latest_canon = sp, spc
    if spec_latest is None:
        raise ValueError(
            f"table at {path} records no partition transform spec"
        )
    agg: dict[tuple, list] = {}
    unaccounted = 0
    for _name, (spc, prows, n_rows) in live.items():
        if n_rows == 0:
            continue  # an empty file is exactly accounted: no rows
        if spc is None or spc != spec_latest_canon or prows is None:
            unaccounted += 1
            continue
        for t, c in prows:
            key = tuple(t)
            slot = agg.setdefault(key, [0, 0])
            slot[0] += c
            slot[1] += 1
    if strict and unaccounted:
        raise ValueError(
            f"{unaccounted} live file(s) carry no value-level "
            "partition stats under the current spec; pass "
            "strict=False for the accounted subset or compact to "
            "refresh the histograms"
        )
    return {
        "spec": spec_latest,
        "partitions": [
            {"partition": list(k), "n_rows": v[0], "n_files": v[1]}
            for k, v in sorted(agg.items())
        ],
        "unaccounted_files": unaccounted,
    }


def metadata_aggregate(
    path: str,
    cols: list[str] | None = None,
    minmax_cols: list[str] | None = None,
    as_of: int | None = None,
    branch: str | None = None,
) -> dict:
    """METADATA-ONLY AGGREGATES — answer ``COUNT(*)``, per-column
    ``MIN``/``MAX``, and ``COUNT(col)``/null counts ENTIRELY from the
    manifest log (the Iceberg/Spark metadata-query optimization):
    row counts fold from ``file_rows``, null counts from
    ``file_nulls``, and min/max from the zone maps — which are EXACT
    per-file extremes computed from the data at write time, so their
    fold is the exact table extreme, not an estimate. Zero data files
    opened; "SELECT COUNT(*), MIN(k), MAX(k) FROM a 100-TB table"
    costs O(#manifests) driver-side JSON work.

    STRICT by construction — an answer is returned only when it is
    provably exact, else ValueError:

    - UNMATERIALIZED delete/merge tombstones (above the latest
      rewrite) → rejected (row-level removals are invisible to
      file-level metadata; compact first — tombstones below a rewrite
      are already folded into the consolidated files and don't
      block);
    - a live file without a recorded row count (pre-columnar legacy)
      → rejected;
    - MIN/MAX (columns listed in ``minmax_cols``) → every live file
      holding at least one non-null value of the column must carry a
      zone map; a file that saw nulls (the zone map disables on the
      first null) makes min/max unanswerable — ask for such columns
      via ``cols`` (counts only) instead. None min/max is returned
      ONLY in the all-null case, which is exact;
    - null counts for a column → every live file must carry a
      ``file_nulls`` record.

    Returns {"n_rows": N, "cols": {c: {"min", "max", "nulls",
    "non_null"}}}."""
    log = _log(path, as_of, branch)
    if _tombstones_since_last_rewrite(log):
        raise ValueError(
            "metadata aggregates require materialized state: the log "
            "holds unmaterialized delete/merge tombstones — compact "
            "first"
        )
    live: dict[str, tuple] = {}
    for _version, m in log:
        if m.get("kind", "append") == "delete":
            continue  # materialized tombstone files are not data
        fr = m.get("file_rows", {})
        fs = m.get("file_stats", {})
        fn = m.get("file_nulls", {})
        entries = {
            f: (fr.get(f), fs.get(f, {}), fn.get(f)) for f in m["files"]
        }
        if m.get("kind", "append") == "rewrite":
            live = entries
        else:
            live.update(entries)
    n_rows = 0
    for name, (rows, _s, _n) in live.items():
        if rows is None:
            raise ValueError(
                f"live file {name} records no row count (pre-columnar "
                "commit); compact to refresh metadata"
            )
        n_rows += rows
    # strictness extends to the REQUEST: a column name outside the
    # discovered schema raises (a typo must never read as an all-null
    # column). Branch reads skip the check: the schema read is main's.
    if branch is None and (cols or minmax_cols):
        sch = table_schema(path, as_of)
        if sch is not None:
            known = {f.name for f in sch.fields}
            unknown = sorted(
                (set(cols or []) | set(minmax_cols or [])) - known
            )
            if unknown:
                raise ValueError(
                    f"unknown column(s) {unknown}; table schema has "
                    f"{sorted(known)}"
                )
    out: dict = {"n_rows": n_rows, "cols": {}}
    want_minmax = set(minmax_cols or [])
    for c in list(cols or []) + sorted(want_minmax - set(cols or [])):
        nulls = 0
        lo = hi = None
        for name, (rows, fstats, fnulls) in live.items():
            if rows == 0:
                continue
            if fnulls is None:
                raise ValueError(
                    f"live file {name} records no null counts; compact "
                    "to refresh metadata"
                )
            c_nulls = fnulls.get(c, rows)
            nulls += c_nulls
            if c_nulls == rows or c not in want_minmax:
                continue  # counts-only column, or nothing non-null
            s = fstats.get(c)
            if s is None:
                raise ValueError(
                    f"live file {name} holds non-null {c!r} values but "
                    "no zone map (nulls or non-orderable type disabled "
                    "it); min/max is not answerable from metadata — "
                    "request it via cols= for counts only"
                )
            lo = s[0] if lo is None or s[0] < lo else lo
            hi = s[1] if hi is None or s[1] > hi else hi
        entry = {"nulls": nulls, "non_null": n_rows - nulls}
        if c in want_minmax:
            entry["min"] = lo
            entry["max"] = hi
        out["cols"][c] = entry
    return out


def read_version_delta(
    spark: SparkSession, path: str, schema, from_v: int, to_v: int
) -> DataFrame:
    """Change data feed for the append-only manifest table: the rows
    ADDED strictly after ``from_v`` up to and including ``to_v`` — read
    from exactly the files those manifests committed, no diffing scan.
    A rewrite snapshot inside the range is rejected: it replaces the
    base rather than appending, so a file-level delta is no longer the
    row-level delta (run the CDF before compacting, as Delta does). A
    delete snapshot is rejected for the same reason — its change rows
    are REMOVALS, which a file-level feed cannot represent (Delta's CDF
    emits them as _change_type=delete rows from a row-level log).
    A restore snapshot is likewise rejected — its change rows are the
    symmetric diff :func:`read_changes` computes at the row level."""
    files: list[str] = []
    for version, m in _log(path, raw=True):
        if version <= from_v or version > to_v:
            continue
        kind = m.get("kind", "append")
        if kind != "append":
            raise ValueError(
                f"version delta ({from_v}, {to_v}] crosses the {kind} "
                f"snapshot {version}; file-level CDF is append-only"
            )
        files += m["files"]
    return _read_files(spark, path, schema, files)


def read_pruned(
    spark: SparkSession,
    path: str,
    schema,
    col: str,
    lo,
    hi,
    as_of: int | None = None,
) -> DataFrame:
    """Read only the files the zone maps can't exclude for ``col`` in
    [lo, hi] — the Iceberg/Delta file-skipping contract. The caller
    still applies the actual row filter; this prunes the FILE LIST the
    scan opens (at 100 TB, the difference between touching 2 files and
    2000). Tombstones from delete snapshots still apply: the pruned
    scan routes through :func:`read_committed`'s fold, so each delete
    that precedes a kept file is one key filter on the one scan of the
    kept files — skipping never resurrects deleted rows, and no
    tombstone costs a job."""
    files, _ = plan_pruned_files(path, col, lo, hi, as_of)
    return read_committed(spark, path, schema, as_of=as_of, _keep=set(files))


def _columns(st: StructType) -> dict[str, str]:
    """Column name → type string: what two schemas must agree on (the
    recorded nullability may differ between writes of one table)."""
    return {f.name: f.dataType.simpleString() for f in st.fields}


def table_schema(path: str, as_of: int | None = None) -> StructType | None:
    """Discover the table schema from the manifest log: the latest
    schema recorded at or below ``as_of``, or None if no manifest in
    range recorded one (pre-schema tables).

    A table has ONE schema: a recorded schema whose column names or
    types differ from the previous one raises, naming the version —
    files written under it could not be read as one table. Delete
    snapshots are skipped: they record the TOMBSTONE KEY schema, a
    subset by design."""
    latest: StructType | None = None
    for version, m in _log(path, as_of):
        if m.get("kind", "append") == "delete" or m.get("schema") is None:
            continue
        st = StructType.fromJson(m["schema"])
        if latest is not None and _columns(st) != _columns(latest):
            raise ValueError(
                f"schema at version {version} {_columns(st)} differs "
                f"from the table schema {_columns(latest)}; a manifest "
                "table keeps one schema"
            )
        latest = st
    return latest


def publish_branch(path: str, branch: str) -> list[int]:
    """PUBLISH a write-audit-publish branch: atomically drop the branch
    tag from each of its committed manifests (os.replace per manifest,
    oldest first), making them visible to main readers at the versions
    they already claimed — the Iceberg fast-forward. Requires the
    fast-forward condition: every branch version must be GREATER than
    the newest unbranched version, otherwise publishing would splice
    history into main's past (rejected, as Iceberg rejects
    non-fast-forward refs). Returns the published versions.

    The WAP loop this implements: write to the branch
    (``save_manifest(df, path, branch=name)``), AUDIT the
    branch read (``read_committed(..., branch=name)`` sees main + the
    staged commits while main readers see nothing), then publish on a
    green audit or :func:`abandon_branch` on a red one."""
    staged = [
        (v, m)
        for v, m in _log(path, branch=branch, raw=True)
        if m.get("branch") == branch
    ]
    if not staged:
        return []
    # main head over ALL claimed version files, not just parseable main
    # manifests: an in-flight commit (claimed, content not yet written)
    # counts as main conservatively — publishing past it would let a
    # lower main version land AFTER a higher published one became
    # visible, retroactively changing history/as_of. Other branches'
    # staged commits do NOT count (they may be abandoned; their own
    # publish runs this same check symmetrically).
    staged_versions = {v for v, _ in staged}
    main_head = 0
    for version, _entry, m in _scan_log(path):
        if version in staged_versions:
            continue
        if m is None:
            main_head = max(main_head, version)  # in-flight: assume main
            continue
        if m.get("branch") is None:
            main_head = max(main_head, version)
    # in-flight claims (unparseable file, or no file yet under a
    # conditional-PUT claimer) are main conservatively — the shared
    # derivation from the claimer interface
    for version in _VERSION_CLAIMER.in_flight_versions(path):
        if version not in staged_versions:
            main_head = max(main_head, version)
    behind = [v for v, _ in staged if v <= main_head]
    if behind:
        raise ValueError(
            f"branch {branch!r} versions {behind} are behind main head "
            f"{main_head} (counting in-flight claims); publish is "
            "fast-forward-only — rebase by re-writing the branch"
        )
    published = []
    for version, m in staged:
        m = dict(m)
        m.pop("branch")
        final = os.path.join(path, f"_manifest-{version:06d}.json")
        tmp = os.path.join(path, f"._publish-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, final)  # atomic visibility flip
        published.append(version)
    return published


def abandon_branch(path: str, branch: str) -> int:
    """Drop a red-audit branch: remove its manifests and their staging
    files (nothing was ever visible to main readers, so this is pure
    GC). The freed version numbers MAY be reclaimed by later commits —
    safe precisely because an abandoned commit was never visible to
    main readers, so no reader holds an ``as_of`` that meant it.
    Returns the number of abandoned commits."""
    staged = [
        (v, m)
        for v, m in _log(path, branch=branch, raw=True)
        if m.get("branch") == branch
    ]
    if staged and not _VERSION_CLAIMER.can_release():
        # fail BEFORE any destructive step: removing manifests and
        # then failing to release their store claims would leave
        # permanent phantom in-flight versions (orphan GC disarmed
        # forever)
        raise NotImplementedError(
            "the installed VersionClaimer cannot release claims; "
            "abandon_branch needs a delete-capable claimer"
        )
    # files still referenced by surviving manifests must not be GC'd
    # (the RAW main log: pre-restore manifests' files remain live as
    # time-travel and restore targets; branch-tagged manifests are
    # excluded; distinct staging files per commit make cross-branch
    # sharing impossible anyway)
    keep = {
        f for _v, m in _log(path, raw=True) for f in m.get("files", [])
    }
    staging = os.path.join(path, "_staging")
    for version, m in staged:
        for name in m.get("files", []):
            target = os.path.join(staging, name)
            if name not in keep and os.path.exists(target):
                os.remove(target)
        os.remove(os.path.join(path, f"_manifest-{version:06d}.json"))
        _VERSION_CLAIMER.release(path, version)
    return len(staged)


_RANGE_SAMPLE_CONF = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
# Reentrant set/restore guard: the manifest layer supports concurrent
# writers, and SQLConf is session-global — two overlapping rewrites in
# threads of one session would otherwise race the restore (one thread
# resetting the hint to 100 while the other's range exchange is still
# planning, silently reintroducing the nondeterminism the hint fixes).
# A depth counter under a lock makes nesting/overlap restore only when
# the LAST scope exits.
_RANGE_HINT_LOCK = threading.Lock()
_RANGE_HINT_DEPTH: dict[str, list] = {}  # session uuid -> [depth, saved]


@contextlib.contextmanager
def _tight_range_boundaries(spark: SparkSession, hint: int = 10_000):
    """Run a layout-rewrite job with a large range-exchange sampling
    hint. ``repartitionByRange`` picks partition boundaries from a
    reservoir sample whose seed derives from the RDD id — i.e. from
    session history — so under the default 100-points-per-partition
    hint the physical layout of a clustered or hidden-partitioned
    rewrite is visibly run-dependent: the same rewrite can scatter a
    zone-map box across a different number of files, or merge two
    partition-transform values into one file, depending on what ran
    earlier in the session. A 10,000-point hint makes small-table
    boundaries exact (the reservoir keeps every row, so layouts are
    session-independent) and large-table jitter ~10x tighter; the
    driver-side cost stays bounded at any table size because
    RangePartitioner clamps the total sample at 1e6 keys. Scoped to
    the one rewrite job and restored after, so the setting never
    leaks into query plans."""
    uid = spark._jsparkSession.sessionUUID()
    with _RANGE_HINT_LOCK:
        entry = _RANGE_HINT_DEPTH.get(uid)
        if entry is None:
            try:
                old = spark.conf.get(_RANGE_SAMPLE_CONF)
            except Exception:
                old = None
            entry = _RANGE_HINT_DEPTH[uid] = [0, old]
            spark.conf.set(_RANGE_SAMPLE_CONF, str(hint))
        entry[0] += 1
    try:
        yield
    finally:
        with _RANGE_HINT_LOCK:
            entry[0] -= 1
            if entry[0] == 0:
                del _RANGE_HINT_DEPTH[uid]
                if entry[1] is None:
                    spark.conf.unset(_RANGE_SAMPLE_CONF)
                else:
                    spark.conf.set(_RANGE_SAMPLE_CONF, entry[1])


def compact_snapshots(
    spark: SparkSession,
    path: str,
    schema,
    cluster_by: list[str] | None = None,
    n_files: int = 16,
    bucket_by: str | None = None,
    n_buckets: int | None = None,
    partition_by: tuple | list | None = None,
) -> int:
    """Consolidate the table's current committed state into ONE rewrite
    snapshot — the small-file compaction lever for the manifest table
    (appends accumulate a staging file per task per commit; training
    readers pay per-file open cost). The rewrite commit lists the full
    consolidated state and supersedes earlier manifests for readers at
    or past its version, while every EARLIER version stays re-readable
    from the untouched old staging files — compaction preserves time
    travel. Returns the new snapshot version.

    ``cluster_by`` makes it an OPTIMIZE-style clustered rewrite (Delta
    ``OPTIMIZE ZORDER BY`` / Iceberg sort-order rewrite): the state is
    range-partitioned into ``n_files`` files on the given columns and
    sorted within each, so the rewrite's per-file zone maps become
    tight ranges on the cluster key — the layout step that turns the
    manifest's data-skipping stats from "present" into "selective".
    A space-filling-curve key column (e.g. a bit-interleaved Z-order
    key) clusters on two dimensions at once.

    ``bucket_by``/``n_buckets`` make it a BUCKETED rewrite instead
    (Spark-native hash bucketing, the §2.5 co-location lever): the
    state is hash-partitioned ``n_buckets``-ways on the key — the one
    exchange that pre-pays every future shuffle on it — each task's
    file carries its bucket id in the Spark-parseable ``_NNNNN`` name
    suffix, the files land in a dedicated staging subdirectory, and
    the manifest records the layout. Register the snapshot with
    :func:`register_bucketed_table` and joins/aggregations on the
    bucket key run with NO exchange on this table's side (asserted by
    plan in tests). Mutually exclusive with ``cluster_by``: bucketing
    optimizes JOIN/AGG co-location, clustering optimizes RANGE
    skipping — a table layout picks one clustering axis.

    ``partition_by`` = ``(col, kind[, arg])`` — or a LIST of such
    tuples for a multi-field spec — preserves (or establishes)
    a HIDDEN-PARTITIONING layout through the rewrite: without it a
    compaction of a :func:`write_partitioned` table would silently
    DROP the transform metadata — the rewrite manifest records no
    spec, so every later time-window read stops pruning. The rewrite
    range-partitions on the transform and records the spec + per-file
    transform ranges exactly like the original writes.

    Scale: the consolidation is a normal distributed read + write
    through the same exactly-once writer (one pass; clustered rewrites
    add the one range-exchange any sort-order rewrite costs); expired
    staging files are garbage to collect only once no reader needs
    pre-compaction versions (the Iceberg/Delta VACUUM contract)."""
    if sum(1 for x in (bucket_by, cluster_by, partition_by) if x) > 1:
        raise ValueError(
            "bucket_by, cluster_by, and partition_by are mutually "
            "exclusive — a layout picks one clustering axis"
        )
    if schema is None:
        schema = table_schema(path)
        if schema is None:
            raise ValueError(
                f"no recorded schema in manifest log at {path}; "
                "pass an explicit schema to compact"
            )
    current = read_committed(spark, path, schema)
    writer_opts: dict[str, str] = {}
    if partition_by is not None:
        fields = (
            partition_by
            if isinstance(partition_by, list)
            else [partition_by]
        )
        specs = _parse_transforms(
            [
                {"col": c, "kind": k, "arg": (rest[0] if rest else None)}
                for c, k, *rest in fields
            ]
        )
        pt_cols = [f"_pt{i}" for i in range(len(specs))]
        current = current.select(
            "*",
            *[
                transform_column(s).alias(c)
                for s, c in zip(specs, pt_cols)
            ],
        ).repartitionByRange(n_files, *pt_cols).drop(*pt_cols)
        writer_opts = {
            "partition_transform": json.dumps(
                specs[0] if len(specs) == 1 else specs
            )
        }
    elif bucket_by is not None:
        n_buckets = n_buckets or 16
        current = current.repartition(n_buckets, bucket_by)
        writer_opts = {
            "bucket_by": bucket_by,
            "n_buckets": str(n_buckets),
            "subdir": f"bkt-{uuid.uuid4().hex[:12]}",
        }
    elif cluster_by:
        current = current.repartitionByRange(
            n_files, *cluster_by
        ).sortWithinPartitions(*cluster_by)
    with _tight_range_boundaries(spark):
        # declared layout: one file per range/bucket, empties included
        save_manifest(
            current, path, kind="rewrite", eager_files="1", **writer_opts
        )
    return max(committed_versions(path))


def _partial_rewrite_guards(log: list, what: str) -> None:
    """Shared rejection gate for PARTIAL rewrites (compact_range,
    replace_where): a scoped rewrite retains files verbatim, so it is
    only sound when nothing since the last full rewrite re-interprets
    them. Unmaterialized delete/merge tombstones would be RESURRECTED
    in retained files (tombstones stop applying at a rewrite), so they
    raise, naming the full-rewrite alternative. A partition-spec alter
    does not: :func:`_retain_entries` carries a retained file's range
    only when it was recorded under the declared spec, and
    :func:`plan_pruned_files` keeps every file without a range."""
    if _tombstones_since_last_rewrite(log):
        raise ValueError(
            f"{what} over unmaterialized delete/merge "
            "snapshots would resurrect tombstoned rows in retained "
            "files; run a full compact_snapshots() first to "
            "materialize them"
        )


def _retain_entries(
    path: str, log: list, exclude: set
) -> tuple[dict, list | None]:
    """Build the ``retain`` map a partial-rewrite commit carries:
    every LIVE file not in ``exclude``, with its zone-map stats, row
    count, null counts and (current-spec) hidden-partition ranges
    preserved verbatim — so metadata-only aggregates and pruning keep
    answering exactly for the files the rewrite does not touch.
    Returns (retain, the declared partition spec or None)."""
    retain: dict = {}
    for name, st in _committed_files(path):
        if name in exclude:
            continue
        entry: dict = {"stats": st or {}}
        retain[name] = entry
    # row counts for the retained files, from the freshest manifest
    # that recorded them (table$files semantics)
    for f in table_files(path):
        if f["file_name"] in retain and f["n_rows"] is not None:
            retain[f["file_name"]]["rows"] = f["n_rows"]
    # null counts likewise (metadata-only COUNT(col) must survive a
    # scoped rewrite for the files it does not touch)
    live_nulls: dict[str, dict] = {}
    for _v3, m3 in log:
        if m3.get("kind", "append") == "delete":
            continue
        fn = m3.get("file_nulls", {})
        entries3 = {f: fn.get(f) for f in m3["files"]}
        if m3.get("kind", "append") == "rewrite":
            live_nulls = entries3
        else:
            live_nulls.update(entries3)
    for name, entry in retain.items():
        if live_nulls.get(name) is not None:
            entry["nulls"] = live_nulls[name]
    # HIDDEN-PARTITIONING preservation: a scoped rewrite must not
    # strip the table's transform metadata (the round-11 layout —
    # otherwise every later time-window read stops pruning). The
    # DECLARED spec survives (the latest alter or spec-bearing write,
    # as in current_partition_spec): retained files carry their
    # recorded transform range (only if recorded under that same
    # spec), and the writer recomputes ranges for the new files.
    live_spec_parts: dict[str, tuple] = {}
    spec_latest = None
    for _v2, m2 in log:
        kind2 = m2.get("kind", "append")
        if kind2 == "alter":
            sp = m2.get("partition_spec")
            spec_latest = (sp[0] if len(sp) == 1 else sp) if sp else None
        if kind2 in ("delete", "alter"):
            continue
        sp = m2.get("partition_transform")
        fp = m2.get("file_partitions", {})
        pr = m2.get("file_partition_rows", {})
        entries2 = {f: (sp, fp.get(f), pr.get(f)) for f in m2["files"]}
        if kind2 == "rewrite":
            live_spec_parts = entries2
        else:
            live_spec_parts.update(entries2)
        if sp is not None:
            spec_latest = sp
    if spec_latest is not None:
        for name, entry in retain.items():
            sp, rng, prows = live_spec_parts.get(name, (None, None, None))
            if sp == spec_latest and rng is not None:
                entry["part"] = rng
            if sp == spec_latest and prows is not None:
                entry["prows"] = prows
    return retain, spec_latest


def replace_where(
    spark: SparkSession,
    path: str,
    schema,
    col: str,
    lo,
    hi,
    df: DataFrame,
    n_files: int = 4,
) -> dict:
    """Atomic predicate-scoped OVERWRITE — Delta's ``replaceWhere`` /
    ``INSERT INTO t REPLACE WHERE``: in ONE rewrite commit, every
    committed row with ``col`` in [lo, hi] disappears and ``df``'s
    rows take their place. Readers see either the complete old state
    or the complete new state — never the deleted-but-not-yet-inserted
    middle a DELETE+INSERT pair exposes (and a crash between the pair
    can strand permanently).

    Delta's rule travels too: every row of ``df`` must satisfy
    the predicate — a violation RAISES before anything commits
    (silently widening the replaced range is how backfills corrupt
    neighboring partitions).

    Scale: the replaced range is planned from metadata
    (:func:`plan_pruned_files` — zone maps + hidden-partition ranges),
    so only files that MAY hold matching rows are read and rewritten;
    everything else is carried into the rewrite manifest verbatim
    (stats, row counts, nulls, partition ranges — :func:`_retain_entries`),
    byte-identical on disk. Replacing one day of a 100-TB,
    day-partitioned fact costs I/O proportional to that day, and the
    range check scans only ``df``. Unmaterialized delete/merge
    tombstones or a pending partition-spec alter reject with the
    full-rewrite alternative named (same contract as
    :func:`compact_range`).

    Returns {"version", "n_replaced_files", "n_retained", "n_new",
    "n_insert_rows"}.

    Reference analogue: the reference's loader can only append or
    wholesale-replace its BigQuery tables
    (bigquery_update_scheduler.py:247-260, WRITE_TRUNCATE); a scoped,
    atomic backfill verb does not exist there."""
    from pyspark.sql import functions as F

    log = _log(path)
    _partial_rewrite_guards(log, "replace_where")
    # NULL-safe on both sides: a NULL key cannot satisfy the range, so
    # it is a range violation in df — and in the keep-filter below a
    # NULL-key row is KEPT (it provably isn't being replaced); a bare
    # ~between would silently drop it. The range check and the
    # caller-reported insert-row count ride ONE aggregation pass over
    # df (guide §1.2).
    probe = df.agg(
        F.sum(
            F.when(
                F.col(col).isNull()
                | ~F.col(col).between(F.lit(lo), F.lit(hi)),
                1,
            ).otherwise(0)
        ).alias("__rw_bad"),
        F.count(F.lit(1)).alias("__rw_n"),
    ).collect()[0]
    bad = int(probe["__rw_bad"] or 0)
    if bad:
        raise ValueError(
            f"replace_where: {bad} insert rows violate "
            f"{col} BETWEEN {lo!r} AND {hi!r}; the replacement data "
            "must live entirely inside the range it replaces"
        )
    replaced_files, total = plan_pruned_files(path, col, lo, hi)
    replaced_set = set(replaced_files)
    retain, spec_latest = _retain_entries(path, log, replaced_set)
    new_state = df
    if replaced_set:
        keep = read_committed(
            spark, path, schema, _keep=replaced_set
        ).filter(
            F.col(col).isNull()
            | ~F.col(col).between(F.lit(lo), F.lit(hi))
        )
        new_state = keep.unionByName(df)
    new_state = new_state.repartitionByRange(
        n_files, col
    ).sortWithinPartitions(col)
    token = uuid.uuid4().hex
    opts = {
        "kind": "rewrite",
        "retain": json.dumps(retain),
        "commit_token": token,
        "eager_files": "1",  # declared layout: one file per range
    }
    if spec_latest is not None:
        opts["partition_transform"] = json.dumps(spec_latest)
    with _tight_range_boundaries(spark):
        save_manifest(new_state, path, **opts)
    version, _m = _committed_entry_of(path, token)
    return {
        "version": version,
        "n_replaced_files": len(replaced_set),
        "n_retained": len(retain),
        "n_new": len(_m["files"]) - len(retain),
        "n_insert_rows": int(probe["__rw_n"] or 0),
    }


def overwrite_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    n_files: int = 4,
) -> int:
    """Full-table INSERT OVERWRITE: ONE rewrite commit whose live file
    list IS ``df`` — the atomic truncate+insert (Delta
    ``mode("overwrite")`` / the reference's BigQuery WRITE_TRUNCATE,
    bigquery_update_scheduler.py:247-260, made snapshot-isolated).
    Unlike a scoped replace, a full rewrite needs NO guards: it
    materializes every pending tombstone by construction, because
    nothing is retained. Every earlier version stays time-travelable
    from the untouched old files until vacuum. The table's declared
    hidden-partitioning spec survives: new files are range-clustered
    on the spec's source columns and their transform ranges recorded,
    so pruning keeps working after the swap. Returns the new snapshot
    version."""
    spec = current_partition_spec(path)
    out = df
    if spec:
        out = df.repartitionByRange(
            max(n_files, len(spec)), *[s["col"] for s in spec]
        ).sortWithinPartitions(*[s["col"] for s in spec])
    token = uuid.uuid4().hex
    opts = {"kind": "rewrite", "commit_token": token}
    if spec:
        opts["partition_transform"] = json.dumps(spec)
        opts["eager_files"] = "1"  # declared layout: one file per range
    with _tight_range_boundaries(spark):
        save_manifest(out, path, **opts)
    return _committed_entry_of(path, token)[0]


def compact_range(
    spark: SparkSession,
    path: str,
    schema,
    col: str,
    lo,
    hi,
    n_files: int = 4,
) -> dict:
    """PARTIAL compaction — ``OPTIMIZE WHERE col BETWEEN lo AND hi``
    (Iceberg ``rewrite_data_files`` with a filter / Delta OPTIMIZE on a
    partition predicate): rewrite ONLY the files whose zone maps
    overlap [lo, hi], carry every other file into the rewrite manifest
    untouched (with its zone maps and row counts), and leave the data
    of retained files byte-identical on disk. At 100 TB this is the
    only compaction that exists — nobody rewrites a full table; the
    maintenance job walks hot key ranges (recent ingest, small-file
    storms) and consolidates just those, paying I/O proportional to
    the range, not the table.

    The rewrite snapshot lists the full consolidated state (retained ∪
    new), so the read path needs no new rules: time travel to
    pre-compaction versions still reads the old file lists, vacuum's
    expiry keeps every file the rewrite references, and the zone maps
    of the rewritten range become tight (range-partitioned + sorted on
    ``col``) while retained files keep theirs.

    Delete and MERGE snapshots not yet materialized by a full rewrite
    are REJECTED: a partial rewrite would resurrect tombstoned rows in
    files it retains (the tombstones stop applying at the rewrite, but
    retained files were never re-folded — a merge's key-tombstones
    carry the same hazard as a standalone delete). Deletes/merges
    BEFORE the latest rewrite are fine — that rewrite already
    materialized them. Run :func:`maintain` (which materializes them
    and then compacts the flagged ranges) or a FULL
    :func:`compact_snapshots` first, then range-compact freely.

    Returns {"version", "n_rewritten", "n_retained", "n_new"}."""
    log = _log(path)
    _partial_rewrite_guards(log, "partial compaction")
    rewrite_files, _total = plan_pruned_files(path, col, lo, hi)
    rewrite_set = set(rewrite_files)
    if not rewrite_set:  # nothing overlaps: a no-op, commit nothing
        return {
            "version": max(committed_versions(path), default=0),
            "n_rewritten": 0,
            "n_retained": _total,
            "n_new": 0,
        }
    retain, spec_latest = _retain_entries(path, log, rewrite_set)
    current = read_committed(spark, path, schema, _keep=rewrite_set)
    current = current.repartitionByRange(n_files, col).sortWithinPartitions(
        col
    )
    token = uuid.uuid4().hex
    opts = {
        "kind": "rewrite",
        "retain": json.dumps(retain),
        "commit_token": token,
        "eager_files": "1",  # declared layout: one file per range
    }
    if spec_latest is not None:
        opts["partition_transform"] = json.dumps(spec_latest)
    with _tight_range_boundaries(spark):
        save_manifest(current, path, **opts)
    version, rewrite_m = _committed_entry_of(path, token)
    new_files = [
        f
        for f in rewrite_m["files"]
        if f not in retain and f not in rewrite_set
    ]
    return {
        "version": version,
        "n_rewritten": len(rewrite_set),
        "n_retained": len(retain),
        "n_new": len(new_files),
    }


def write_partitioned(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    col: str | None = None,
    kind: str | None = None,
    arg: int | None = None,
    n_files: int = 16,
    branch: str | None = None,
    transforms: list[tuple] | None = None,
    props: dict | None = None,
) -> int:
    """Append ``df`` under a HIDDEN-PARTITIONING layout: the rows are
    range-partitioned on the transform of ``col`` (month/days/year/
    hours for timestamps, truncate/bucket/identity for integers) so
    each task's file covers a tight transform range, and the manifest
    records the spec plus every file's [min, max] transform value.
    Readers then prune by SOURCE-column predicates
    (:func:`plan_pruned_files` / :func:`read_pruned`) with no
    materialized partition column and no layout knowledge in the query
    — Iceberg's hidden partitioning, the generalization of the
    reference's year/month/day output directories
    (spark_streaming_consumer.py:323).

    ``transforms`` = ``[(col, kind[, arg]), …]`` writes a MULTI-FIELD
    spec (Iceberg's partition-spec shape — e.g. ``[("ts", "days"),
    ("user_id", "bucket", 16)]``): rows are range-partitioned
    lexicographically on ALL the transform values, so a file is tight
    in the leading field and contiguous in the rest, and every field
    prunes independently (a time window via the days range, a user
    point-lookup via the bucket equality) — the layout a 100-TB
    events fact actually wants.

    Scale: the one range exchange here is the pay-once layout cost;
    every later time-windowed scan opens only the files whose
    transform range intersects the window. Returns the new snapshot
    version."""
    if transforms is not None:
        if col is not None or kind is not None:
            raise ValueError("pass col/kind OR transforms, not both")
        specs = [
            _parse_transform(
                {"col": c, "kind": k, "arg": (rest[0] if rest else None)}
            )
            for c, k, *rest in transforms
        ]
        specs = _parse_transforms(specs)  # uniqueness/shape checks
    elif col is not None:
        specs = [_parse_transform({"col": col, "kind": kind, "arg": arg})]
    else:
        # no explicit transform: follow the table's DECLARED spec
        # (set_partition_spec / the latest partitioned write) — the
        # Iceberg contract that writers inherit the table layout
        specs = current_partition_spec(path)
        if specs is None:
            raise ValueError(
                "write_partitioned needs a transform: pass col/kind, "
                "transforms=[...], or declare one with "
                "set_partition_spec first"
            )
    token = uuid.uuid4().hex
    pt_cols = [f"_pt{i}" for i in range(len(specs))]
    out = df.select(
        "*",
        *[
            transform_column(s).alias(c)
            for s, c in zip(specs, pt_cols)
        ],
    ).repartitionByRange(n_files, *pt_cols).drop(*pt_cols)
    opts = {
        "partition_transform": json.dumps(
            specs[0] if len(specs) == 1 else specs
        ),
        "commit_token": token,
        "eager_files": "1",  # declared layout: one file per range
    }
    if branch is not None:
        opts["branch"] = branch
    if props is not None:
        opts["commit_props"] = json.dumps(props)
    with _tight_range_boundaries(spark):
        save_manifest(out, path, **opts)
    return _committed_entry_of(path, token, branch)[0]


def read_changes(
    spark: SparkSession, path: str, schema, from_v: int, to_v: int
) -> DataFrame:
    """ROW-LEVEL change data feed — the Delta CDF contract including
    removals: every row changed in versions (from_v, to_v], tagged
    with ``_change_type`` ('insert' | 'delete') and
    ``_commit_version``. Appends contribute their files' rows as
    inserts (no diffing scan — exactly the committed files). A delete
    snapshot contributes the rows it REMOVED: the table state as of
    the preceding version filtered to the tombstone keys
    (``filter(hit)``, see :func:`_key_hit`) — a scan of only the
    pre-delete state, never a full history diff. A rewrite
    (compaction) inside the range still raises: it reorganizes bytes
    without changing rows, so a row-level feed crossing it would
    double-count (Delta's CDF makes the same run-before-compacting
    demand).

    A RESTORE snapshot contributes its row-level symmetric diff: the
    rows the restore removed (pre-restore state minus the restored
    state, ``exceptAll`` so duplicate multiplicities diff exactly) as
    deletes, and the rows it brought back as inserts — a consumer
    replaying (delete, insert) in order lands on exactly the restored
    state, the same contract the merge arm keeps. Both sides are
    as-of reads of committed state, never a history walk.

    This supersedes the file-level :func:`read_version_delta` when
    the range crosses deletes — incremental view maintenance over a
    mutating table consumes inserts AND deletes and stays O(delta)."""
    from pyspark.sql import functions as _F

    parts: list[DataFrame] = []
    for version, m in _log(path, raw=True):
        if version <= from_v or version > to_v:
            continue
        kind = m.get("kind", "append")
        if kind == "alter":
            continue  # a partition-spec alter changes no rows
        if kind == "rewrite":
            raise ValueError(
                f"row-level CDF ({from_v}, {to_v}] crosses the rewrite "
                f"snapshot {version}; compaction reorganizes bytes "
                "without changing rows — consume the feed before "
                "compacting"
            )
        if kind == "restore":
            # the restore's row-level change = symmetric diff between
            # the pre-restore state and the state it restored to;
            # exceptAll keeps duplicate-row multiplicities exact
            before = read_committed(spark, path, schema, as_of=version - 1)
            after = read_committed(spark, path, schema, as_of=version)
            removed = before.exceptAll(after)
            added = after.exceptAll(before)
            for side, tag in ((removed, "delete"), (added, "insert")):
                parts.append(
                    side.withColumn("_change_type", _F.lit(tag)).withColumn(
                        "_commit_version", _F.lit(version).cast("int")
                    )
                )
            continue
        if kind == "append":
            df = _read_files(spark, path, schema, m["files"])
        elif kind == "merge":
            # atomic upsert: the rows its key-tombstones REMOVED from
            # the pre-merge state, plus its own rows as inserts — both
            # stamped with the ONE commit version (a CDF consumer
            # replaying them in (delete, insert) order reconstructs
            # exactly the post-merge state)
            rows = _read_files(spark, path, schema, m["files"])
            before = read_committed(spark, path, schema, as_of=version - 1)
            removed = before.filter(_tombstone_hit(path, m, version))
            parts.append(
                removed.withColumn("_change_type", _F.lit("delete"))
                .withColumn("_commit_version", _F.lit(version).cast("int"))
            )
            df = rows
        else:  # delete: emit the rows the tombstones removed
            hit = _tombstone_hit(path, m, version)
            before = read_committed(spark, path, schema, as_of=version - 1)
            df = before.filter(hit)
        parts.append(
            df.withColumn(
                "_change_type",
                _F.lit("delete" if kind == "delete" else "insert"),
            ).withColumn("_commit_version", _F.lit(version).cast("int"))
        )
    if not parts:
        empty = local_frame(spark, [], schema)
        return empty.withColumn("_change_type", _F.lit("")).withColumn(
            "_commit_version", _F.lit(0).cast("int")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def register_bucketed_table(
    spark: SparkSession, path: str, table_name: str
) -> str:
    """Register the manifest table's current BUCKETED snapshot as a
    Spark catalog table so Catalyst plans exchange-free joins and
    aggregations on the bucket key — the storage-partitioned-join
    contract on the teachable lakehouse. Requires the latest committed
    snapshot to be a bucketed rewrite (written by
    :func:`compact_snapshots` with ``bucket_by``): its manifest records
    the key, bucket count, and the dedicated staging subdirectory that
    holds exactly its files.

    Because a catalog table's LOCATION is directory-scoped while the
    manifest's contract is an explicit file LIST, registration
    RECONCILES the two: any file in the snapshot's subdirectory that
    the manifest does not list (residue of retried task attempts whose
    first write survived) is deleted before the table is created —
    after commit, unlisted files in a committed snapshot's private
    subdir are garbage by definition. This is the listing-vs-manifest
    gap Iceberg closes natively; a dir-scoped register must close it
    explicitly.

    The table is EXTERNAL (LOCATION-based): dropping it later never
    touches the data files, and time travel to pre-compaction versions
    still reads through the manifest path unchanged."""
    log = _log(path, raw=True)
    if not log:
        raise ValueError(f"no committed snapshots at {path}")
    version, m = log[-1]
    if m.get("kind", "append") != "rewrite" or "bucket_by" not in m:
        raise ValueError(
            f"latest snapshot {version} is not a bucketed rewrite; run "
            "compact_snapshots(bucket_by=...) first"
        )
    sch = table_schema(path)
    if sch is None:
        raise ValueError(f"no recorded schema in manifest log at {path}")
    layout_dir = m["layout_dir"]
    loc = os.path.join(path, "_staging", layout_dir)
    committed = {f.split("/", 1)[1] for f in m["files"]}
    for entry in sorted(os.listdir(loc)):
        if entry not in committed:
            os.remove(os.path.join(loc, entry))
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sch.fields
    )
    spark.sql(f"DROP TABLE IF EXISTS `{table_name}`")
    spark.sql(
        f"CREATE TABLE `{table_name}` ({cols}) USING parquet "
        f"CLUSTERED BY (`{m['bucket_by']}`) "
        f"INTO {int(m['n_buckets'])} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return table_name


def save_manifest(df: DataFrame, path: str, **options) -> dict:
    """Commit ``df`` to the manifest table at ``path`` — the table's
    write path. One ``mapInArrow`` job runs :meth:`ManifestWriter.write`
    in each task (one staging file per non-empty partition, with its
    zone map and transform ranges) and returns the pickled commit
    message as the task's single output row; the driver then runs
    :meth:`ManifestWriter.commit`, which claims the next version.

    ``options`` are :class:`ManifestWriter`'s (``kind``,
    ``merge_keys``, ``branch``, ...); values are passed as strings.

    Failure semantics: a failed job leaves unreferenced staging files;
    they are invisible to every reader and collected by
    ``vacuum_snapshots`` orphan GC — the same residue a crashed driver
    leaves.

    Returns ``{"n_rows", "n_files"}`` of the commit, straight from the
    task commit messages — the caller-visible row count of what was
    written WITHOUT re-running ``df``'s plan (counting a 100-TB insert
    by re-executing its SELECT is a full second scan; guide §1.2,
    don't compute things twice)."""
    import pickle as _pickle

    writer = ManifestWriter(
        {"path": path, **{k: str(v) for k, v in options.items()}},
        schema=df.schema,
    )

    def _task(batches):
        import pyarrow as _pa

        msg = writer.write(batches)
        yield _pa.record_batch(
            [_pa.array([_pickle.dumps(msg)], type=_pa.binary())],
            names=["msg"],
        )

    msgs = [
        _pickle.loads(bytes(r.msg))
        for r in df.mapInArrow(_task, "msg binary").collect()
    ]
    writer.commit(msgs)  # drops empty-partition messages; an all-empty
    # commit stages its one empty file inside commit() itself
    return {
        "n_rows": sum(m.n_rows for m in msgs),
        "n_files": sum(1 for m in msgs if m.file_name is not None) or 1,
    }


def vacuum_snapshots(
    path: str,
    keep_from: int | None = None,
    delete_orphans: bool = True,
    stale_claim_ttl_s: float | None = None,
) -> dict:
    """Expire old snapshots and collect unreferenced staging files —
    the Iceberg ``expire_snapshots`` + ``remove_orphan_files`` /
    Delta VACUUM contract for the manifest table. Two independent
    actions:

    1. **Orphan GC** (``delete_orphans``): staging files referenced by
       NO committed manifest — the residue of failed attempts — are
       deleted, and so are the manifest temp files of commits that
       failed before their commit point. Run it
       in a maintenance window (no in-flight writers), the same
       precondition Delta's retention check encodes.
    2. **Snapshot expiry**: every manifest with version < ``keep_from``
       is removed, along with any staging file only those expired
       manifests reference. ``keep_from`` MUST be a rewrite
       (compaction) snapshot — the consolidated base from which every
       retained version is still reconstructible; expiring past a
       plain append would break the retained versions' lineage, so
       that is rejected. Default: the latest rewrite version (no-op if
       the table was never compacted). After expiry,
       ``read_committed(as_of=v)`` for v < keep_from reads EMPTY —
       time travel is shortened, exactly as in Iceberg/Delta.

    Returns counts: orphans_deleted, expired_manifests, expired_files,
    expired_checkpoints (log-checkpoint generations beyond the newest —
    every generation when manifests expired — collected here because
    vacuum IS the maintenance window the ``keep=2`` retirement in
    :func:`checkpoint_log` defers to),
    kept_versions. Driver-side O(#manifests + #staging-files) metadata
    work; no data is read or rewritten.

    In-flight-commit guard: a version file claimed (O_EXCL) but not yet
    atomically replaced with its content is the read path's explicit
    commit-in-flight signal — its freshly-written staging files are not
    yet referenced by any parseable manifest and would look like
    orphans. When one is present, orphan GC is SKIPPED for this run
    (``in_flight_commits`` > 0 in the returned stats) rather than
    merely documented as a maintenance-window precondition; snapshot
    expiry still proceeds, since it deletes only files referenced by
    expired manifests, which an in-flight commit cannot reference.

    Stale-claim GC (``stale_claim_ttl_s``): a writer that crashes
    BETWEEN the version claim and the atomic content replace leaves a
    permanently-empty claimed manifest — a version that will never
    become readable, invisible to history, holding the in-flight
    guard forever. An unparseable claim OLDER than the TTL (far beyond any plausible commit duration; Delta's
    equivalent knob is its log-retry timeout) is deleted
    (``stale_claims_deleted``), turning it into a permanent version
    hole that readers and history already skip — and its
    never-referenced staging files become collectible orphans on the
    next pass. Claims younger than the TTL still count as in-flight.

    The GC is check-then-remove, not atomic: the claim file is
    re-verified (still empty, mtime unchanged) IMMEDIATELY before the
    ``os.remove`` to shrink the window in which a committer stalled
    past the TTL lands its ``os.replace`` between the failed parse and
    the remove. The residual hazard is inherent to a TTL — a committer
    whose ``os.replace`` is delayed past BOTH the TTL and the re-check
    loses its commit (or, if the version was reclaimed, silently
    overwrites the rival's manifest). This is the same hazard class as
    Delta's log-retry timeout: the TTL must dominate any plausible
    commit duration by orders of magnitude, which is why it is an
    explicit opt-in knob with no default."""
    import time

    entries: list[tuple[int, str, dict]] = []
    stale_deleted = 0
    # unparseable claims seen DURING the scan, whether young-and-kept
    # or caught mid-replace: each may become readable between this
    # loop and the claimer derivation below, in which case it is no
    # longer "in flight" there yet its files are absent from
    # `entries` — orphan GC must stay disarmed for this run either way
    unresolved = 0
    for version, entry in _list_manifests(path):
        full = os.path.join(path, entry)
        try:
            with open(full) as f:
                m = json.load(f)
        except (json.JSONDecodeError, OSError):
            try:
                st = os.stat(full)
            except FileNotFoundError:
                continue  # a rival vacuum removed it first
            if st.st_size > 0:
                # the commit LANDED between the failed parse and the
                # re-stat: re-parse so its files are referenced (they
                # must not look like orphans this run)
                try:
                    with open(full) as f:
                        m = json.load(f)
                    entries.append((version, entry, m))
                except (json.JSONDecodeError, OSError):
                    unresolved += 1  # racing replace: defer GC this run
                continue
            age = time.time() - st.st_mtime
            if (
                stale_claim_ttl_s is not None
                and age > stale_claim_ttl_s
                and _VERSION_CLAIMER.can_release()
            ):
                # the size-0 re-stat just above is the last-moment
                # re-verification: a committer that landed its
                # os.replace since the failed parse shows non-zero
                # size and is left alone. A claimer that cannot
                # release (conditional-PUT without a delete callable)
                # skips the GC entirely: removing the file while the
                # store claim lingers would leave a permanent phantom
                # in-flight version.
                os.remove(full)  # crashed claim: permanent hole, GC it
                _VERSION_CLAIMER.release(path, version)
                stale_deleted += 1
            else:
                unresolved += 1  # young/unreleasable: in flight now
            continue
        entries.append((version, entry, m))
    # the commit-in-flight count: the claimer derivation (covers
    # store-side claims with no file yet) joined with the scan loop's
    # own unresolved count via max — a commit that LANDED between the
    # loop and the derivation is readable there (not in-flight) yet
    # absent from `entries`, so the loop's count must still disarm
    # orphan GC; max (not sum) avoids double-counting a claim both
    # saw
    in_flight = max(
        len(_VERSION_CLAIMER.in_flight_versions(path)), unresolved
    )
    # retention anchors are MAIN rewrites only: an unpublished WAP
    # branch's rewrite is invisible to main readers — expiring main
    # history against it would empty the table for everyone
    rewrites = [
        v
        for v, _, m in entries
        if m.get("kind") == "rewrite" and m.get("branch") is None
    ]
    if keep_from is None:
        keep_from = max(rewrites) if rewrites else None
    elif keep_from not in rewrites:
        raise ValueError(
            f"keep_from={keep_from} is not a main rewrite snapshot "
            f"(main rewrites: {rewrites}); expiring past an append "
            "base (or anchoring on an unpublished branch) would break "
            "the retained versions"
        )
    if keep_from is not None:
        # a retained RESTORE whose target lies below the expiry line
        # would silently lose its meaning (the effective-log expansion
        # references manifests expiry deletes); targets AT/ABOVE
        # keep_from are safe because the anchor rewrite consolidates
        # everything below it
        broken = [
            v
            for v, _, m in entries
            if m.get("kind") == "restore"
            and m.get("branch") is None
            and v >= keep_from
            and int(m.get("restore_as_of", 0)) < keep_from
        ]
        if broken:
            raise ValueError(
                f"snapshot expiry below {keep_from} would cut the "
                f"target out from under restore snapshot(s) {broken}; "
                "compact after the restore and anchor on that rewrite "
                "instead"
            )
    stats = {
        "orphans_deleted": 0,
        "expired_manifests": 0,
        "expired_files": 0,
        "expired_checkpoints": 0,
        "in_flight_commits": in_flight,
        "stale_claims_deleted": stale_deleted,
    }
    staging = os.path.join(path, "_staging")
    referenced_any = {f for _, _, m in entries for f in m.get("files", [])}
    if in_flight:
        delete_orphans = False  # the guard: never GC under a live commit
    if delete_orphans and os.path.isdir(staging):
        # recursive: bucketed snapshots stage files under dedicated
        # subdirectories, referenced by staging-relative name
        for dirpath, _dirs, files in os.walk(staging):
            for fname in sorted(files):
                full = os.path.join(dirpath, fname)
                rel = os.path.relpath(full, staging)
                if rel not in referenced_any:
                    os.remove(full)
                    stats["orphans_deleted"] += 1
        # a commit that failed between its version claim and the
        # os.replace left its manifest's temp file (a delete's holds
        # the tombstone's key stats); with no claim in flight, no
        # committer will move one into place
        for fname in os.listdir(path):
            if fname.startswith("._manifest-") and fname.endswith(".tmp"):
                os.remove(os.path.join(path, fname))
    if keep_from is not None:
        retained = {
            f
            for v, _, m in entries
            if v >= keep_from
            for f in m.get("files", [])
        }
        for v, entry, m in entries:
            if v >= keep_from or m.get("branch") is not None:
                continue  # branch-staged manifests belong to
                # publish/abandon, never to main expiry
            for name in m.get("files", []):
                target = os.path.join(staging, name)
                if name not in retained and os.path.exists(target):
                    os.remove(target)
                    stats["expired_files"] += 1
            os.remove(os.path.join(path, entry))
            stats["expired_manifests"] += 1
    # drop staging subdirectories emptied by orphan GC / expiry
    if os.path.isdir(staging):
        for dirpath, _dirs, files in sorted(os.walk(staging), reverse=True):
            if dirpath != staging and not files and not os.listdir(dirpath):
                os.rmdir(dirpath)
    # LOG-CHECKPOINT GC: checkpoint_log() keeps the newest `keep`
    # generations alive for racing readers; vacuum — a maintenance
    # window by the same contract that arms orphan GC — collects every
    # generation but the newest, and the newest too once expiry
    # removed a manifest: a bundle copies every manifest at or below
    # its version, so it would keep an expired tombstone's key stats
    # on disk. A checkpoint is a pure parse cache, so removing one can
    # never change what is read; the next plan call falls back to the
    # survivor (or per-file parsing).
    for entry in _checkpoint_names(path)[
        0 if stats["expired_manifests"] else 1 :
    ]:
        try:
            os.remove(os.path.join(path, entry))
            stats["expired_checkpoints"] += 1
        except OSError:
            pass  # racing remove: already gone
    stats["kept_versions"] = table_versions(path)
    return stats
