"""``lakehouse_daily``: one writer/reader lives through simulated days
on an ``export.manifest_sink`` table.

Each day: ``save_manifest`` appends the day's pre-cleaned rows,
``delete_where`` erases a few cards (GDPR-style tombstones),
``read_pruned`` reads that day back and one ``queries.transactions``
function runs on it. Every ``MAINTAIN_EVERY``-th day a
``maintain(..., MaintenancePolicy(checkpoint=True))`` pass compacts,
materializes the tombstones and checkpoints the log. Writes sit next
to reads, so a change that speeds reads by slowing commits still shows.

The traced run also probes ``queries.transactions`` on its own: after
the timed days it runs every query over the committed table, once to
warm the plans and once timed, each query in a job group of its own
and each result checked.
"""

from __future__ import annotations

import os
import random
import time

import gen
from spans import median, tail
from workloads import QUERY_GROUP, QUERY_NAMES, Workload, query_layers, tree_bytes

DAY_ROWS = 5000
WARM_DAYS = 1
MAX_DAYS = 31  # one calendar month: the table is pruned on Day
DELETE_CARDS = 3
MAINTAIN_EVERY = 5  # the run ends on a maintenance day
EST_CYCLE_S = 14  # one cycle of MAINTAIN_EVERY days on a 4-core host
PROCESSED_AT = "2024-04-01 00:00:00"


class LakehouseDaily(Workload):
    name = "lakehouse_daily"

    def generate(self) -> None:
        # a fixed number of whole maintenance cycles, about one per
        # EST_CYCLE_S of --seconds: every run of a given length does the
        # same mix of plain days and maintenance passes
        cycles = max(1, int(self.seconds / EST_CYCLE_S))
        self.n_days = min(MAX_DAYS // MAINTAIN_EVERY, cycles) * MAINTAIN_EVERY
        self.raw_dir = self.path("raw")
        os.makedirs(self.raw_dir)
        self.day_rows: list[list[gen.Txn]] = []
        with self.rec.span("gen.inputs"):
            for day in range(self.n_days):
                lines, model = gen.gen_day(self.seed, day, DAY_ROWS)
                with open(os.path.join(self.raw_dir, f"{day:04d}.json"), "w") as f:
                    f.write("\n".join(lines))
                self.day_rows.append([t for t in model if t.valid])

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
        from olap_project_spark.transforms.clean import clean, to_output_v1
        from olap_project_spark.transforms.route import route

        self.stage = self.path("stage")
        with self.rec.span("fixture.stage_clean_days"):
            raw = self.spark.read.schema(RAW_TRANSACTION_SCHEMA).json(self.raw_dir)
            cleaned = to_output_v1(route(clean(raw, processed_at=PROCESSED_AT))["valid"])
            self.columns = cleaned.columns
            cleaned.repartition("Day").write.partitionBy("Day").parquet(self.stage)
        self.table = self.path("table")
        self.rng = random.Random(self.seed)
        # (day, cards deleted, rows read, VND read, query, its signature)
        self.days: list[tuple] = []
        self.kept: list[float] = []
        self.log_len: list[int] = []
        self.seen_files: dict[str, int] = {}
        self.F = F
        with self.rec.span("warmup.first_days"):
            for day in range(WARM_DAYS):
                self._day(day)
        self.kept.clear()

    def _day_df(self, day: int):
        d = gen.day_date(day).day
        return (self.spark.read.option("basePath", self.stage)
                .parquet(f"{self.stage}/Day={d}").select(*self.columns))

    def _track_bytes(self) -> None:
        for d, _, fs in os.walk(self.table):
            for f in fs:
                p = os.path.join(d, f)
                self.seen_files.setdefault(p, os.path.getsize(p))

    def _day(self, day: int) -> None:
        """One simulated day; records each operation's time and check."""
        import pyarrow as pa

        from olap_project_spark.export import manifest_sink as ms
        from olap_project_spark.queries import transactions

        F, rec, sp = self.F, self.rec, self.spark
        dom = gen.day_date(day).day
        rows = self.day_rows[day]
        with rec.span("lakehouse.day", request=f"day{day}"):
            with rec.span("export.manifest_sink.save_manifest"):
                ms.save_manifest(self._day_df(day), self.table)
            if day == 0:
                self.schema = ms.table_schema(self.table)
            cards = sorted({t.card for t in rows})
            gone = set(self.rng.sample(cards, min(DELETE_CARDS, len(cards))))
            keys = sp.createDataFrame(pa.table({"Card": pa.array(sorted(gone), pa.string())}))
            with rec.span("export.manifest_sink.delete_where"):
                ms.delete_where(sp, self.table, keys)
            with rec.span("lakehouse.read"):
                if self.trace:
                    with rec.span("export.manifest_sink.plan_pruned_files"):
                        kept, total = ms.plan_pruned_files(self.table, "Day", dom, dom)
                    self.kept.append(len(kept) / max(1, total))
                with rec.span("export.manifest_sink.read_scan"):
                    df = ms.read_pruned(sp, self.table, self.schema, "Day", dom, dom)
                    df = df.where(F.col("Day") == dom)
                    n, vnd = df.agg(F.count("*"), F.sum(F.col("Amount_VND").cast("decimal(18,2)"))).first()
                # the same queries on the same days in every run
                q = QUERY_NAMES[day % len(QUERY_NAMES)]
                with rec.span(f"queries.transactions.{q}"):
                    got = gen.signature(q, getattr(transactions, q)(df).collect())
            if (day + 1) % MAINTAIN_EVERY == 0:
                if self.trace:  # the log a cycle of commits has grown
                    self.log_len.append(len(ms.table_history(self.table)))
                with rec.span("export.manifest_sink.maintain"):
                    ms.maintain(sp, self.table, self.schema,
                                ms.MaintenancePolicy(col="Day", checkpoint=True))
        self.days.append((day, gone, n, vnd, q, got))
        if self.trace:
            self._track_bytes()

    def run(self) -> None:
        t0 = self.begin_window()
        self.t_run = time.perf_counter()
        for day in range(WARM_DAYS, self.n_days):
            self._day(day)
        self.elapsed = self.end_window() - t0

    def finish(self) -> None:
        from olap_project_spark.export import manifest_sink as ms

        F, res = self.F, self.result
        since = self.t_run
        day_s = self.rec.durations("lakehouse.day", since)
        commit_s = (self.rec.durations("export.manifest_sink.save_manifest", since)
                    + self.rec.durations("export.manifest_sink.delete_where", since))
        read_s = self.rec.durations("lakehouse.read", since)
        maint_s = self.rec.durations("export.manifest_sink.maintain", since)
        res.e2e = {
            "throughput_per_s": len(day_s) / self.elapsed,
            "op_p50_s": median(day_s),
        }
        p90, above = tail(day_s)
        res.report += [
            f"lakehouse_days_per_s {res.e2e['throughput_per_s']:.4f} days/s "
            f"({len(day_s)} days of {DAY_ROWS} raw rows, {self.elapsed:.2f} s) = throughput_per_s",
            f"lakehouse_day_p50_s {median(day_s):.4f} s (n={len(day_s)}) = op_p50_s",
            f"lakehouse_day_p90_s {p90:.4f} s (n={len(day_s)}, {above} above)",
            f"lakehouse_commit_p50_s {median(commit_s):.4f} s (n={len(commit_s)} appends+deletes)",
            f"lakehouse_read_p50_s {median(read_s):.4f} s (n={len(read_s)} pruned reads+queries)",
            f"maintain passes {len(maint_s)}, median {median(maint_s):.4f} s",
        ]
        # the model: a delete removes the cards from every row committed
        # before it, the same day's append included
        alive: list[gen.Txn] = []
        for day, gone, n, vnd, q, got in self.days:
            today = [t for t in self.day_rows[day] if t.card not in gone]
            alive = [t for t in alive if t.card not in gone] + today
            if day < WARM_DAYS:
                continue
            self.check(n == len(today) and vnd is not None
                       and round(vnd * 100) == sum(t.vnd_cents for t in today),
                       f"day {day} read {n} rows / {vnd} VND")
            self.check(gen.matches(gen.expected(q, today), got),
                       f"day {day} {q}: {got}")
        n, vnd = ms.read_committed(self.spark, self.table, self.schema).agg(
            F.count("*"), F.sum(F.col("Amount_VND").cast("decimal(18,2)"))).first()
        want_vnd = sum(t.vnd_cents for t in alive)
        self.check(n == len(alive) and round((vnd or 0) * 100) == want_vnd,
                   f"final table {n} rows / {vnd} VND != {len(alive)} / {want_vnd / 100}")
        if self.trace:
            L = self.layer
            L["export.manifest_sink.save_manifest_s"] = median(
                self.rec.durations("export.manifest_sink.save_manifest", since))
            L["export.manifest_sink.delete_where_s"] = median(
                self.rec.durations("export.manifest_sink.delete_where", since))
            L["export.manifest_sink.plan_pruned_files_s"] = median(
                self.rec.durations("export.manifest_sink.plan_pruned_files", since))
            L["export.manifest_sink.read_scan_s"] = median(
                self.rec.durations("export.manifest_sink.read_scan", since))
            L["export.manifest_sink.files_kept_ratio"] = median(self.kept)
            L["export.manifest_sink.maintain_s"] = median(maint_s)
            L["export.manifest_sink.log_entries"] = median(self.log_len)
            user_bytes = sum(tree_bytes(os.path.join(self.stage, f"Day={gen.day_date(d).day}"))
                             for d in range(self.n_days))
            L["export.manifest_sink.bytes_written_per_user_byte"] = (
                sum(self.seen_files.values()) / user_bytes)
            self._query_probe(alive)

    def _query_probe(self, alive) -> None:
        """Every ``queries.transactions`` function over the committed
        table (traced run only), checked against the model."""
        from olap_project_spark.export import manifest_sink as ms
        from olap_project_spark.queries import transactions

        sc = self.spark.sparkContext
        df = ms.read_committed(self.spark, self.table, self.schema)
        fns = {q: getattr(transactions, q) for q in QUERY_NAMES}
        with self.rec.span("warmup.query_probe"):
            for fn in fns.values():
                fn(df).collect()
        for q, fn in fns.items():
            sc.setJobGroup(f"{QUERY_GROUP}{q}-probe", q)
            with self.rec.span(f"queries.transactions.{q}", request="probe") as sp:
                got = gen.signature(q, fn(df).collect())
            self.layer[f"queries.transactions.{q}_s"] = sp.dur
            self.check(gen.matches(gen.expected(q, alive), got),
                       f"probe {q} over the committed table: {got}")
        self.layer["sources.scan_files_per_query"] = median(
            len(fn(df).inputFiles()) for fn in fns.values())

    def layer_events(self, ev) -> None:
        query_layers(self.layer, ev, len(QUERY_NAMES))
