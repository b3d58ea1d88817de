"""``ingest_backlog``: drain a backlog of raw JSON micro-batch files
through ``streaming.pipeline.start_pipeline`` with an ``availableNow``
trigger, then run ``export.daily.export_partition`` once per day touched.

Closed loop over a fixed backlog: set-up drains the first days' files
(the warm-up batches) and exports those days; the timed run moves the
rest of the backlog into the landing directory and restarts the query
on the same checkpoint, which drains it ``FILES_PER_TRIGGER`` files per
micro-batch and stops, then exports the days it touched. Events arrive
in time order and a day spans two triggers, so each micro-batch touches
one or two ``Year/Month/Day`` partitions. No query runs.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import gen
from spans import median, tail
from workloads import Workload, tree_files

FILE_ROWS = 1250
# several files per trigger, like partitioned Kafka; each file is one
# task, so four make one wave of tasks on a 4-core host (a fifth task
# would run alone after the others and double the batch time)
FILES_PER_TRIGGER = 4
DAY_ROWS = 10_000  # two triggers per day
# Batch times fall by a third over the first ten or so micro-batches of
# a JVM (JIT); two days of warm-up batches put the timed ones near the
# steady state, where the median no longer depends on how fast the
# host warms the JVM.
WARM_TRIGGERS = 4
# The backlog is sized from --seconds: DRAIN_SHARE of it at EST_BATCH_S
# per warm micro-batch (a 4-core host), the rest for the exports (8
# micro-batches, four days, at 24 s). Every run of a given length drains
# the same number of micro-batches.
EST_BATCH_S = 2.0
DRAIN_SHARE = 0.7
TRANSFORM_PROBE_BATCHES = 6


class IngestBacklog(Workload):
    name = "ingest_backlog"

    def generate(self) -> None:
        self.stage = self.path("stage")
        self.src = self.path("landing")
        self.sink = self.path("sink")
        os.makedirs(self.stage)
        os.makedirs(self.src)
        n_batches = max(3, int(self.seconds * DRAIN_SHARE / EST_BATCH_S))
        self.warm_files = WARM_TRIGGERS * FILES_PER_TRIGGER
        n_files = self.warm_files + n_batches * FILES_PER_TRIGGER
        # (name, bytes, rows per route, valid rows per day) per file
        self.files: list[tuple[str, int, Counter, Counter]] = []
        mtime0 = time.time_ns()
        day = 0
        with self.rec.span("gen.inputs"):
            while len(self.files) < n_files:
                lines, model = gen.gen_day(self.seed, day, DAY_ROWS)
                for i in range(0, DAY_ROWS, FILE_ROWS):
                    if len(self.files) == n_files:
                        break
                    name = f"{day:04d}-{i // FILE_ROWS:03d}.json"
                    path = os.path.join(self.stage, name)
                    with open(path, "w") as f:
                        f.write("\n".join(lines[i:i + FILE_ROWS]))
                        f.write("\n")
                    # strictly increasing mtimes: the file source takes
                    # the oldest files first, so batches follow event time
                    mtime = mtime0 + len(self.files) * 1_000_000
                    os.utime(path, ns=(mtime, mtime))
                    part = model[i:i + FILE_ROWS]
                    self.files.append((
                        name, os.path.getsize(path),
                        Counter(gen.route_counts(part)),
                        Counter(t.day for t in part if t.valid),
                    ))
                day += 1

    def _land(self, files) -> None:
        for name, *_ in files:
            os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))

    def _drain(self):
        """One ``availableNow`` run of the pipeline over what has landed."""
        from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
        from olap_project_spark.streaming.pipeline import start_pipeline

        raw = (
            self.spark.readStream.schema(RAW_TRANSACTION_SCHEMA)
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
            .json(self.src)
        )
        query = start_pipeline(raw, self.sink, self.path("checkpoint"),
                               trigger={"availableNow": True})
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query

    def _export(self, day: int, target: str) -> int:
        from olap_project_spark.export.daily import export_partition

        d = gen.day_date(day)
        return export_partition(self.spark, f"{self.sink}/valid", target,
                                d.year, d.month, d.day)

    @staticmethod
    def _days(files) -> Counter:
        """Valid rows per day in ``files``."""
        days = Counter()
        for _, _, _, per_day in files:
            days.update(per_day)
        return days

    def setup(self) -> None:
        # warm-up: the first micro-batches (JIT, planning, the foreachBatch
        # callback server) and exports, before any timed operation
        self._land(self.files[:self.warm_files])
        with self.rec.span("warmup.first_batches"):
            self._drain()
        with self.rec.span("warmup.first_exports"):
            for day in sorted(self._days(self.files[:self.warm_files])):
                self._export(day, self.path("warmup_export"))

    def run(self) -> None:
        self._land(self.files[self.warm_files:])
        t0 = self.begin_window()
        with self.rec.span("streaming.pipeline.drain"):
            query = self._drain()
        t_drain = time.perf_counter()
        self.progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        self.timed_rows = (len(self.files) - self.warm_files) * FILE_ROWS
        self.drain_s = t_drain - t0

        self.want_days = self._days(self.files)
        self.exported = {}
        for day in sorted(self._days(self.files[self.warm_files:])):
            with self.rec.span("export.daily.export_partition", request=f"day{day}"):
                self.exported[day] = self._export(day, self.path("warehouse_export"))
        self.export_s = self.end_window() - t_drain

    def finish(self) -> None:
        res = self.result
        batch_s = [p["durationMs"]["triggerExecution"] / 1000 for p in self.progress]
        export_s = self.rec.durations("export.daily.export_partition")
        eps = self.timed_rows / self.drain_s
        res.e2e = {
            "throughput_per_s": self.timed_rows / (self.drain_s + self.export_s),
            "op_p50_s": median(batch_s),
        }
        p90, above = tail(batch_s)
        res.report += [
            f"throughput_per_s {res.e2e['throughput_per_s']:.2f} 1/s "
            f"(raw rows from landing to warehouse: drain + daily exports)",
            f"ingest_eps {eps:.2f} rows/s ({self.timed_rows} rows over {self.drain_s:.2f} s drain)",
            f"ingest_batch_p50_s {median(batch_s):.4f} s (n={len(batch_s)} micro-batches) = op_p50_s",
            f"ingest_batch_p90_s {p90:.4f} s (n={len(batch_s)}, {above} above)",
            f"export_day_p50_s {median(export_s):.4f} s (n={len(export_s)} days)",
        ]

        # correctness: sink rows per route and exported rows per day
        want = Counter()
        for _, _, routes, _ in self.files:
            want.update(routes)
        sp = self.spark
        got = {
            "valid": sp.read.parquet(f"{self.sink}/valid").count(),
            "fraud": sp.read.parquet(f"{self.sink}/fraud").count(),
            "error": sp.read.parquet(f"{self.sink}/error").count(),
            "invalid": sp.read.option("header", True).csv(f"{self.sink}/invalid").count(),
        }
        sinks_ok = all(got[k] == want[k] for k in got) and all(want[k] for k in got)
        if not sinks_ok:
            res.report.append(f"CHECK FAILED: sink rows {got} != expected {dict(want)}")
        # every timed micro-batch is wrong when the sinks are
        res.attempted += len(batch_s)
        res.failed += 0 if sinks_ok else len(batch_s)
        for day, n in sorted(self.exported.items()):
            self.check(n == self.want_days[day],
                       f"export day {day}: {n} rows != {self.want_days[day]}")

        if self.trace:
            self._layers(export_s, want)

    def _layers(self, export_s, want) -> None:
        L = self.layer
        # busy time per micro-batch: means, because the progress reports
        # whole milliseconds and a median of a few of them repeats exactly
        dm = [p["durationMs"] for p in self.progress]

        def per_batch(*keys: str) -> float:
            return sum(d.get(k, 0) for d in dm for k in keys) / 1000 / max(1, len(dm))

        L["streaming.pipeline.add_batch_s"] = per_batch("addBatch")
        L["streaming.pipeline.source_s"] = per_batch("latestOffset", "getBatch")
        L["streaming.pipeline.checkpoint_s"] = per_batch("walCommit", "commitOffsets")
        n_batches = len(self.progress) + WARM_TRIGGERS
        sink_files = tree_files(self.sink)
        L["streaming.pipeline.files_per_batch"] = len(sink_files) / n_batches
        in_bytes = sum(size for _, size, _, _ in self.files)
        L["streaming.pipeline.bytes_per_input_byte"] = (
            sum(os.path.getsize(f) for f in sink_files) / in_bytes)
        L["export.daily.export_partition_s"] = median(export_s)
        L["export.daily.files_out"] = (
            len(tree_files(self.path("warehouse_export"))) / max(1, len(export_s)))
        self._transform_probe(want)

    def _transform_probe(self, want) -> None:
        """``route(clean(batch))`` materialized in isolation over the
        timed micro-batches' own files (a noop write per route)."""
        from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
        from olap_project_spark.transforms.clean import clean
        from olap_project_spark.transforms.route import route

        names = [os.path.join(self.src, f[0]) for f in self.files]
        groups = [names[i:i + FILES_PER_TRIGGER]
                  for i in range(self.warm_files, len(names), FILES_PER_TRIGGER)]
        groups = groups[:TRANSFORM_PROBE_BATCHES]
        reader = self.spark.read.schema(RAW_TRANSACTION_SCHEMA)
        t = 0.0
        for i, g in enumerate(groups):
            with self.rec.span("transforms.clean_route", request=f"probe{i}") as sp:
                for df in route(clean(reader.json(g))).values():
                    df.write.format("noop").mode("overwrite").save()
            t += sp.dur
        rows = sum(len(g) for g in groups) * FILE_ROWS
        self.layer["transforms.clean_route_rows_per_s"] = rows / t if t else 0.0
        streams = route(clean(reader.json(names)))
        for k, df in streams.items():
            n = df.count()
            self.layer[f"transforms.rows.{k}"] = n
            self.check(n == want[k], f"transforms.rows.{k}: {n} != {want[k]}")

    def layer_events(self, ev) -> None:
        batch_jobs = ev.jobs_where(
            lambda j: j["batch"] is not None and int(j["batch"]) >= WARM_TRIGGERS)
        self.layer["streaming.pipeline.jobs_per_batch"] = (
            len(batch_jobs) / max(1, len(self.progress)))
