"""Shared workload skeleton and the per-layer metric table.

Each workload is a closed loop over the program's public functions:
``generate`` (seeded inputs, while the JVM starts) and ``setup``
(fixtures, warm-up), both counted in ``setup_s``; ``run`` (the timed
window); ``finish`` (correctness checks and end-to-end metrics) and, in
the traced run only, ``per_layer``.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field

from spans import EventLog

QUERY_NAMES = (
    "q0_merchant_rollup", "q1_busiest_hours", "q1b_anomalous_hours",
    "q2_top_cities_by_value", "q3_top_merchants", "q4_fraud_rate_by",
    "q5_rapid_transactions", "q6_large_txn_profile", "q7_fraud_trend",
    "q8_weekend_comparison", "q9_above_avg_flag_users",
)

_INGEST = "ingest_backlog"
_DASH = "olap_dashboard"
_LAKE = "lakehouse_daily"
_QUERIES = f"{_LAKE} (query probe), {_DASH}"
# job group prefix of the query runs the per-layer query metrics count
QUERY_GROUP = "perfbench-query-"

# name -> (unit, better, end-to-end metric it should move, workload)
LAYERS: dict[str, tuple[str, str, str, str]] = {
    "streaming.pipeline.add_batch_s": ("s", "lower", "op_p50_s, throughput_per_s", _INGEST),
    "streaming.pipeline.source_s": ("s", "lower", "op_p50_s", _INGEST),
    "streaming.pipeline.checkpoint_s": ("s", "lower", "op_p50_s", _INGEST),
    "streaming.pipeline.jobs_per_batch": ("count", "lower", "op_p50_s", _INGEST),
    "streaming.pipeline.files_per_batch": ("count", "lower", "op_p50_s; op_p50_s of sink readers", _INGEST),
    "streaming.pipeline.bytes_per_input_byte": ("ratio", "lower", "throughput_per_s", _INGEST),
    "transforms.clean_route_rows_per_s": ("1/s", "higher", "throughput_per_s", _INGEST),
    "transforms.rows.valid": ("count", "higher", "correctness", _INGEST),
    "transforms.rows.fraud": ("count", "higher", "correctness", _INGEST),
    "transforms.rows.error": ("count", "higher", "correctness", _INGEST),
    "transforms.rows.invalid": ("count", "higher", "correctness", _INGEST),
    "export.daily.export_partition_s": ("s", "lower", "throughput_per_s (export_day_p50_s)", _INGEST),
    "export.daily.files_out": ("count", "lower", "throughput_per_s (export_day_p50_s)", _INGEST),
    # measured on lakehouse_daily by the traced run's query probe, and
    # on olap_dashboard when that workload is run by hand
    **{
        f"queries.transactions.{q}_s": ("s", "lower", "op_p50_s (lakehouse_read_p50_s)", _QUERIES)
        for q in QUERY_NAMES
    },
    "queries.tasks_per_query": ("count", "lower", "op_p50_s (lakehouse_read_p50_s)", _QUERIES),
    "queries.shuffle_bytes_per_query": ("bytes", "lower", "op_p50_s (lakehouse_read_p50_s)", _QUERIES),
    "sources.scan_files_per_query": ("count", "lower", "op_p50_s (lakehouse_read_p50_s)", _QUERIES),
    "queries.sched_wait_s": ("s", "lower", "op_p50_s (lakehouse_read_p50_s) and its tail", _QUERIES),
    "export.manifest_sink.save_manifest_s": ("s", "lower", "op_p50_s (lakehouse_commit_p50_s)", _LAKE),
    "export.manifest_sink.delete_where_s": ("s", "lower", "op_p50_s (lakehouse_commit_p50_s)", _LAKE),
    "export.manifest_sink.plan_pruned_files_s": ("s", "lower", "op_p50_s (lakehouse_read_p50_s)", _LAKE),
    "export.manifest_sink.read_scan_s": ("s", "lower", "op_p50_s (lakehouse_read_p50_s)", _LAKE),
    "export.manifest_sink.files_kept_ratio": ("ratio", "lower", "op_p50_s (lakehouse_read_p50_s)", _LAKE),
    "export.manifest_sink.maintain_s": ("s", "lower", "op_p50_s, throughput_per_s", _LAKE),
    "export.manifest_sink.log_entries": ("count", "lower", "op_p50_s (lakehouse_commit_p50_s)", _LAKE),
    "export.manifest_sink.bytes_written_per_user_byte": ("ratio", "lower", "op_p50_s (lakehouse_commit_p50_s)", _LAKE),
    "session.gc_s": ("s", "lower", "op_p50_s", "all"),
    "session.tasks_total": ("count", "lower", "op_p50_s", "all"),
    # peak RSS varies by more than a tenth between runs, so it is
    # reported here, without a bound
    "session.peak_rss_mb": ("MB", "lower", "memory; no end-to-end bound", "all"),
    "trace.op_p50_s": ("s", "lower", "tracing overhead = this - untraced op_p50_s", "all"),
}
LAYER_TAGS = {k: f"{v[2]} on {v[3]}" for k, v in LAYERS.items()}


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)  # throughput_per_s, op_p50_s
    report: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def now_ms() -> float:
    return time.time() * 1000


def tree_files(root: str) -> list[str]:
    """Data files under ``root`` (checksum files are hidden, so skipped)."""
    return glob.glob(os.path.join(root, "**", "part-*"), recursive=True)


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    )


def query_layers(layer: dict, ev: EventLog, n_queries: int) -> None:
    """The ``queries.*`` per-layer metrics from the event log: the jobs
    of the query runs that were put in ``QUERY_GROUP`` job groups."""
    jobs = ev.jobs_where(lambda j: (j["group"] or "").startswith(QUERY_GROUP))
    n = max(1, n_queries)
    job_set = set(jobs)
    tasks = [t for t in ev.tasks if t["job"] in job_set]
    layer["queries.tasks_per_query"] = len(tasks) / n
    layer["queries.shuffle_bytes_per_query"] = sum(t["shuffle_bytes"] for t in tasks) / n
    # a mean: the event log has whole milliseconds, so a median of
    # waits this short repeats exactly from run to run
    waits = ev.sched_waits(jobs)
    layer["queries.sched_wait_s"] = sum(waits) / max(1, len(waits))


class Workload:
    name = ""

    def __init__(self, rec, run_dir, seed, seconds, trace):
        self.spark = None
        self.sess = None
        self.rec = rec
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.result = Result()
        self.layer: dict[str, float] = {}
        self.window_ms = (0.0, 0.0)
        self._gc0 = 0.0
        self.generate_error: Exception | None = None

    def generate(self) -> None:
        """Make the seeded inputs (pure Python; runs while the JVM starts)."""

    def generate_in_thread(self) -> None:
        """``generate`` for a thread: keep the error for the main thread."""
        try:
            self.generate()
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            self.generate_error = e

    def attach(self, spark, sess) -> None:
        self.spark = spark
        self.sess = sess

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def begin_window(self) -> float:
        self._gc0 = self.sess.gc_s()
        self.window_ms = (now_ms(), 0.0)
        return time.perf_counter()

    def end_window(self) -> float:
        self.window_ms = (self.window_ms[0], now_ms())
        self.layer["session.gc_s"] = self.sess.gc_s() - self._gc0
        return time.perf_counter()

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; report what went wrong."""
        self.result.attempted += 1
        if not ok:
            self.result.failed += 1
            self.result.report.append(f"CHECK FAILED: {what}")

    # subclasses: generate(), setup(), run(), finish(); optional layer_events(ev)
    def layer_events(self, ev: EventLog) -> None:
        pass

    def per_layer(self, events_dir: str) -> dict[str, tuple[float, str]]:
        """Every per-layer metric, 0 for the layers this workload
        bypasses (the prediction there is: no change)."""
        logs = [p for p in glob.glob(os.path.join(events_dir, "*"))
                if not p.endswith(".inprogress")]
        if logs:
            ev = EventLog(logs[0])
            self.layer["session.tasks_total"] = len(ev.tasks_between(*self.window_ms))
            self.layer_events(ev)
        self.layer["trace.op_p50_s"] = self.result.e2e["op_p50_s"]
        return {name: (float(self.layer.get(name, 0.0)), spec[0])
                for name, spec in LAYERS.items()}


def make(name, *args):
    if name == _INGEST:
        from ingest import IngestBacklog as cls
    elif name == _DASH:
        from dashboard import OlapDashboard as cls
    else:
        from lakehouse import LakehouseDaily as cls
    return cls(*args)
