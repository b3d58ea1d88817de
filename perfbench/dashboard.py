"""``olap_dashboard``: two closed-loop clients cycle through the eleven
``queries.transactions`` functions over a ``Year/Month/Day``-partitioned
parquet fact.

Set-up builds the fact from seeded raw JSON through ``transforms.clean``
→ ``route`` (valid rows) → ``to_output_v1``. The 24-column v1 shape is
used because the 21-column warehouse projection (``OUTPUT_COLUMNS``,
what the pipeline sinks and ``export_partition`` write) drops
``Transaction_Date``, which ``q5_rapid_transactions`` needs. The timed
window does no writes and no transforms: the parquet scan and the query
plans do all the work.
"""

from __future__ import annotations

import os
import random
import traceback

import gen
from spans import median, tail
from workloads import QUERY_GROUP, QUERY_NAMES, Workload, query_layers

FACT_DAYS = 28
DAY_ROWS = 2500  # 70k raw rows
FILES_PER_DAY = 2  # 56 fact files
N_CLIENTS = 2
# one round (each client runs all 11 queries) on a 4-core host; the
# number of rounds is --seconds / EST_ROUND_S
EST_ROUND_S = 10
PROCESSED_AT = "2024-04-01 00:00:00"


class OlapDashboard(Workload):
    name = "olap_dashboard"

    def generate(self) -> None:
        self.raw_dir = self.path("raw")
        os.makedirs(self.raw_dir)
        self.valid: list[gen.Txn] = []
        with self.rec.span("gen.inputs"):
            for day in range(FACT_DAYS):
                lines, model = gen.gen_day(self.seed, day, DAY_ROWS)
                with open(os.path.join(self.raw_dir, f"{day:04d}.json"), "w") as f:
                    f.write("\n".join(lines))
                self.valid += [t for t in model if t.valid]

    def setup(self) -> None:
        from olap_project_spark.queries import transactions
        from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
        from olap_project_spark.transforms.clean import clean, to_output_v1
        from olap_project_spark.transforms.route import route

        fact_dir = self.path("fact")
        with self.rec.span("fixture.build_fact"):
            raw = self.spark.read.schema(RAW_TRANSACTION_SCHEMA).json(self.raw_dir)
            fact = to_output_v1(route(clean(raw, processed_at=PROCESSED_AT))["valid"])
            (fact.repartition(FILES_PER_DAY).write
             .partitionBy("Year", "Month", "Day").parquet(fact_dir))
            self.fact = self.spark.read.parquet(fact_dir)
        self.fns = {q: getattr(transactions, q) for q in QUERY_NAMES}
        with self.rec.span("warmup.first_round"):
            # every query once, split over the clients
            self._clients(list(QUERY_NAMES), -(-len(QUERY_NAMES) // N_CLIENTS))

    def _client(self, c: int, order: list[str], limit: int, tag: bool,
                out: list) -> None:
        sc = self.spark.sparkContext
        i = c * len(order) // N_CLIENTS
        for _ in range(limit):
            q = order[i % len(order)]
            req = f"c{c}-{i}"
            if tag:
                sc.setJobGroup(f"{QUERY_GROUP}{q}-{req}", q)
            try:
                with self.rec.span(f"queries.transactions.{q}", request=req) as sp:
                    rows = self.fns[q](self.fact).collect()
                out.append((q, sp.dur, gen.signature(q, rows)))
            except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
                traceback.print_exc()
                out.append((q, sp.dur, None))
            i += 1

    def _clients(self, order: list[str], limit: int, tag: bool = False) -> list:
        """Run the closed-loop clients for ``limit`` queries each;
        returns (query, seconds, signature) per query. ``tag`` puts each
        query's jobs in a job group of its own."""
        from pyspark import InheritableThread

        out: list = []
        threads = [
            InheritableThread(target=self._client, name=f"client{c}",
                              args=(c, order, limit, tag, out))
            for c in range(N_CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if any(t.is_alive() for t in threads):
            raise RuntimeError("a dashboard client did not finish")
        return out

    def run(self) -> None:
        order = list(QUERY_NAMES)
        random.Random(self.seed).shuffle(order)
        # whole rounds: every run of a given length runs each query
        # the same number of times
        rounds = max(1, int(self.seconds / EST_ROUND_S))
        t0 = self.begin_window()
        self.done = self._clients(order, rounds * len(order), self.trace)
        self.elapsed = self.end_window() - t0

    def finish(self) -> None:
        res = self.result
        lat = [d for _, d, _ in self.done]
        p90, above = tail(lat)
        per_query = {q: median(d for name, d, _ in self.done if name == q)
                     for q in QUERY_NAMES}
        res.e2e = {
            "throughput_per_s": len(lat) / self.elapsed,
            "op_p50_s": median(lat),
        }
        res.report += [
            f"dashboard_qps {res.e2e['throughput_per_s']:.4f} queries/s "
            f"({len(lat)} queries, {N_CLIENTS} clients, {self.elapsed:.2f} s) = throughput_per_s",
            f"dashboard_latency_p50_s {median(lat):.4f} s (n={len(lat)}) = op_p50_s",
            f"dashboard_latency_p90_s {p90:.4f} s (n={len(lat)}, {above} above)",
        ]
        want = {q: gen.expected(q, self.valid) for q in QUERY_NAMES}
        for q, _, got in self.done:
            self.check(got is not None and gen.matches(want[q], got),
                       f"{q}: {got} != {want[q]}")
        if self.trace:
            for q, d in per_query.items():
                self.layer[f"queries.transactions.{q}_s"] = d
            self.layer["sources.scan_files_per_query"] = median(
                len(self.fns[q](self.fact).inputFiles()) for q in QUERY_NAMES)

    def layer_events(self, ev) -> None:
        query_layers(self.layer, ev, len(self.done))
