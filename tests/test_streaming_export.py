"""Streaming pipeline + windowed operators + daily export tests: file-
source replay through the real StreamingQuery machinery (availableNow
trigger), asserting against the batch-computed truth (SURVEY.md §5)."""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from olap_project_spark.export.daily import DAY_FILE, export_partition
from olap_project_spark.export.scheduler import ExportPolicy, run_with_retries
from olap_project_spark.schemas import (
    INVALID_LOG_COLUMNS,
    OUTPUT_COLUMNS,
    RAW_TRANSACTION_SCHEMA,
)
from olap_project_spark.streaming import (
    dedup_stream,
    read_file_stream,
    session_event_counts,
    start_pipeline,
    windowed_event_stats,
)
from olap_project_spark.transforms import clean, route
from olap_project_spark.transforms.clean import to_output
from tests import txn_model as M
from tests.fixtures import _row, load_table, sample_rows

FIXED_TS = "2024-01-15 08:30:20"
RAW_FIELDS = [
    "User", "Card", "Year", "Month", "Day", "Time", "Amount", "Use Chip",
    "Merchant Name", "Merchant City", "Merchant State", "Zip", "MCC",
    "Errors?", "Is Fraud?", "timestamp",
]

DAY_22 = "Year=2024/Month=1/Day=22"

# a fraud row whose event time does not parse (no calendar partition)
BAD_TS_FRAUD = _row(user="77", fraud="Yes", ts="not-a-timestamp")


@pytest.fixture()
def raw_json_dir(tmp_path):
    """The synthetic fixture as a JSON file-stream source directory."""
    d = tmp_path / "incoming"
    d.mkdir()
    with open(d / "batch0.json", "w") as f:
        for row in sample_rows():
            f.write(json.dumps(dict(zip(RAW_FIELDS, row))) + "\n")
    return str(d)


class TestIngestPipeline:
    def test_foreachbatch_fanout_matches_batch_routing(
        self, spark, raw_json_dir, tmp_path
    ):
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        seen = {}

        q = start_pipeline(
            read_file_stream(spark, raw_json_dir, fmt="json"),
            out_dir=out,
            checkpoint_dir=ckpt,
            processed_at=FIXED_TS,
            trigger={"availableNow": True},
            on_batch=lambda bid, counts: seen.update(counts),
        )
        q.awaitTermination(120)
        assert not q.isActive

        # Truth: the same transforms, batch mode.
        from tests.fixtures import raw_transactions_df

        truth = route(clean(raw_transactions_df(spark), processed_at=FIXED_TS))
        want = {k: v.count() for k, v in truth.items()}
        assert seen == want

        valid = spark.read.parquet(f"{out}/valid")
        assert sorted(valid.columns) == sorted(OUTPUT_COLUMNS)
        assert valid.count() == want["valid"]
        # partitioned sink layout (ST6)
        years = os.listdir(f"{out}/valid")
        assert any(p.startswith("Year=") for p in years)

        inv = spark.read.option("header", True).csv(f"{out}/invalid")
        assert inv.count() == want["invalid"]
        assert "invalid_reason" in inv.columns

    def test_no_count_jobs_without_observer(self, spark, raw_json_dir, tmp_path):
        """Per-sink counts are observability-only: the fan-out must not
        run ANY count() job over the batch, and with or without an
        on_batch hook a micro-batch is exactly one Spark job (the sink
        counts are the write tasks' own results)."""
        from pyspark.sql import DataFrame

        calls = {"n": 0}
        orig = DataFrame.count

        def counting(self):
            calls["n"] += 1
            return orig(self)

        tracker = spark.sparkContext.statusTracker()
        for hook in (None, lambda bid, counts: None):
            name = "hook" if hook else "nc"
            DataFrame.count = counting
            try:
                q = start_pipeline(
                    read_file_stream(spark, raw_json_dir, fmt="json"),
                    out_dir=str(tmp_path / f"out_{name}"),
                    checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
                    processed_at=FIXED_TS,
                    trigger={"availableNow": True},
                    on_batch=hook,
                )
                q.awaitTermination(120)
            finally:
                DataFrame.count = orig
            assert calls["n"] == 0
            batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            assert len(batches) == 1
            # the query runs every job of its micro-batches in its runId group
            assert len(tracker.getJobIdsForGroup(str(q.runId))) == len(batches)

    def test_csv_sink_mode(self, spark, raw_json_dir, tmp_path):
        """Reference K2 shape: valid/fraud as partitioned CSV."""
        out = str(tmp_path / "out_csv")
        q = start_pipeline(
            read_file_stream(spark, raw_json_dir, fmt="json"),
            out_dir=out,
            checkpoint_dir=str(tmp_path / "ckpt_csv"),
            processed_at=FIXED_TS,
            trigger={"availableNow": True},
            sink_format="csv",
        )
        q.awaitTermination(120)
        valid = spark.read.option("header", True).csv(f"{out}/valid")
        from tests.fixtures import raw_transactions_df

        want = route(clean(raw_transactions_df(spark), processed_at=FIXED_TS))[
            "valid"
        ].count()
        assert valid.count() == want
        assert os.path.isdir(f"{out}/valid/Year=2024")

    def test_complete_mode_running_counts(self, spark, raw_json_dir):
        """ST2: update/complete output modes for streaming aggregates —
        a complete-mode running count over the replayed fixture."""
        stream = read_file_stream(spark, raw_json_dir, fmt="json")
        agg = clean(stream, processed_at=FIXED_TS).groupBy("Is_Fraud").count()
        q = (
            agg.writeStream.format("memory")
            .queryName("complete_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["Is_Fraud"]: r["count"] for r in spark.table("complete_counts").collect()}
        assert got.get("Yes") == 2  # fixture fraud rows

    def test_restart_is_exactly_once(self, spark, raw_json_dir, tmp_path):
        """Re-starting with the same checkpoint must not duplicate sink
        rows (ST3 exactly-once file sinks)."""
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        for _ in range(2):
            q = start_pipeline(
                read_file_stream(spark, raw_json_dir, fmt="json"),
                out_dir=out,
                checkpoint_dir=ckpt,
                processed_at=FIXED_TS,
                trigger={"availableNow": True},
            )
            q.awaitTermination(120)
        valid = spark.read.parquet(f"{out}/valid")
        from tests.fixtures import raw_transactions_df

        want = route(clean(raw_transactions_df(spark), processed_at=FIXED_TS))[
            "valid"
        ].count()
        assert valid.count() == want

    def test_incremental_arrival_processes_only_new_files(
        self, spark, raw_json_dir, tmp_path
    ):
        """ST3 incremental ingest: a file landing BETWEEN availableNow
        runs is processed exactly once on the next run — the checkpoint
        tracks consumed source files, so re-runs neither re-read old
        batches nor miss new ones (the cron-driven micro-batch pattern
        the daily export rides at scale)."""
        import json as _json

        from tests.fixtures import raw_transactions_df

        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        q = start_pipeline(
            read_file_stream(spark, raw_json_dir, fmt="json"),
            out_dir=out,
            checkpoint_dir=ckpt,
            processed_at=FIXED_TS,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        base = spark.read.parquet(f"{out}/valid").count()

        # a second batch lands: duplicate the fixture with shifted users
        with open(os.path.join(raw_json_dir, "batch1.json"), "w") as f:
            for row in sample_rows():
                rec = dict(zip(RAW_FIELDS, row))
                if rec["User"] is not None:
                    rec["User"] = str(int(rec["User"]) + 1000)
                f.write(_json.dumps(rec) + "\n")
        q = start_pipeline(
            read_file_stream(spark, raw_json_dir, fmt="json"),
            out_dir=out,
            checkpoint_dir=ckpt,
            processed_at=FIXED_TS,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
        valid = spark.read.parquet(f"{out}/valid")
        per_batch = route(
            clean(raw_transactions_df(spark), processed_at=FIXED_TS)
        )["valid"].count()
        # exactly-once: old batch not re-processed, new batch fully in
        assert base == per_batch
        assert valid.count() == 2 * per_batch


    def test_replay_after_crash_overwrites_batch_files(
        self, spark, raw_json_dir, tmp_path
    ):
        """A failure after the batch's files are written, then a restart
        from the same checkpoint: the replayed batch rewrites its own
        files, so every sink holds each routed row once."""
        from tests.fixtures import raw_transactions_df

        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def crash(batch_id, counts):
            raise RuntimeError("failure after the sink writes")

        for hook in (crash, None):
            q = start_pipeline(
                read_file_stream(spark, raw_json_dir, fmt="json"),
                out_dir=out,
                checkpoint_dir=ckpt,
                processed_at=FIXED_TS,
                trigger={"availableNow": True},
                on_batch=hook,
            )
            if hook is crash:
                with pytest.raises(Exception, match="failure after the sink writes"):
                    q.awaitTermination(120)
            else:
                q.awaitTermination(120)
                assert q.exception() is None

        want = route(clean(raw_transactions_df(spark), processed_at=FIXED_TS))
        for sink in ("valid", "fraud", "error"):
            got = spark.read.parquet(f"{out}/{sink}").select(*OUTPUT_COLUMNS)
            assert _rows(got) == _rows(to_output(want[sink])), sink
        inv = spark.read.option("header", True).csv(f"{out}/invalid")
        assert _rows(inv.select("User", "invalid_reason")) == _rows(
            want["invalid"].select("User", "invalid_reason")
        )

    @pytest.mark.parametrize("fault", ["write", "replace"])
    def test_failed_sink_write_leaves_no_hidden_file(
        self, tmp_path, monkeypatch, fault
    ):
        """A sink write that raises midway (a full disk while writing
        the hidden file, or a failed move into place) re-raises and
        leaves no ``.tmp`` file under any sink. The task runs in this
        process: an empty partition 0 still writes the error sink."""
        import pyarrow as pa
        import pyspark

        from olap_project_spark.streaming.pipeline import _sink_task

        class Ctx:
            def partitionId(self):
                return 0

            def attemptNumber(self):
                return 0

        monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(Ctx))

        def boom(*_args, **_kwargs):
            raise OSError("injected sink fault")

        if fault == "write":

            def partial_write(_table, where, **_kwargs):
                with open(where, "wb") as f:
                    f.write(b"PAR1")
                boom()

            monkeypatch.setattr(pq, "write_table", partial_write)
        else:
            monkeypatch.setattr(os, "replace", boom)
        names = dict.fromkeys([*OUTPUT_COLUMNS, *INVALID_LOG_COLUMNS, "_log"])
        schema = pa.schema(
            [(c, pa.string()) for c in names]
            + [(f"_{s}", pa.bool_()) for s in ("valid", "fraud", "error", "invalid")]
        )
        task = _sink_task(str(tmp_path), "parquet", schema, "q-0")
        with pytest.raises(OSError, match="injected sink fault"):
            list(task(iter([])))
        left = [f for _d, _s, fs in os.walk(tmp_path) for f in fs if f.endswith(".tmp")]
        assert os.path.isdir(tmp_path / "error") and left == []


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _run_pipeline(spark, rows, root, **kw):
    """The fixture ``rows`` through ``start_pipeline`` as one JSON file;
    returns the sink root."""
    os.makedirs(f"{root}/in")
    with open(f"{root}/in/batch0.json", "w") as f:
        for row in rows:
            f.write(json.dumps(dict(zip(RAW_FIELDS, row))) + "\n")
    q = start_pipeline(
        read_file_stream(spark, f"{root}/in", fmt="json"),
        out_dir=f"{root}/out",
        checkpoint_dir=f"{root}/ckpt",
        processed_at=M.PROCESSED_AT,
        trigger={"availableNow": True},
        **kw,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return f"{root}/out"


class TestSinkParity:
    """The sinks as read back equal what ``DataFrameWriter`` writes for
    the same routed rows: layout, column names, order, types, values."""

    # sample rows, BAD_TS_FRAUD and a seeded batch of generated rows
    # (FIXTURES.md §7)
    ROWS = sample_rows() + [BAD_TS_FRAUD] + M.raw_rows(11)

    @pytest.fixture(scope="class")
    def sinks(self, spark, tmp_path_factory):
        return _run_pipeline(spark, self.ROWS, str(tmp_path_factory.mktemp("parity")))

    @pytest.fixture(scope="class")
    def want(self, spark):
        raw = spark.createDataFrame(self.ROWS, RAW_TRANSACTION_SCHEMA)
        return route(clean(raw, processed_at=M.PROCESSED_AT))

    @pytest.mark.parametrize("sink", ["valid", "fraud", "error"])
    def test_parquet_sinks_match_dataframe_writer(
        self, spark, sinks, want, sink, tmp_path
    ):
        ref = str(tmp_path / sink)
        writer = to_output(want[sink]).write
        if sink != "error":
            writer = writer.partitionBy("Year", "Month", "Day")
        writer.parquet(ref)
        got = spark.read.parquet(f"{sinks}/{sink}")
        exp = spark.read.parquet(ref)
        assert got.schema == exp.schema
        assert got.count() > 0
        assert _rows(got) == _rows(exp)
        # Spark ignores pyarrow's schema footer, so the sinks omit it
        files = glob.glob(f"{sinks}/{sink}/**/*.parquet", recursive=True)
        assert files and not any(
            b"ARROW:schema" in (pq.ParquetFile(f).metadata.metadata or {})
            for f in files
        )

    @pytest.mark.parametrize("writer", ["pipeline", "spark"])
    def test_export_keeps_the_sink_schema(self, spark, sinks, want, writer, tmp_path):
        """Every day of the valid sink, exported, reads back with the
        sink's schema and rows, whichever writer produced the sink."""
        src = f"{sinks}/valid"
        if writer == "spark":
            src = str(tmp_path / "valid")
            to_output(want["valid"]).write.partitionBy("Year", "Month", "Day").parquet(src)
        wh = str(tmp_path / "warehouse")
        days = glob.glob(f"{src}/Year=*/Month=*/Day=*")
        exported = 0
        for path in days:
            y, m, d = (int(p.split("=")[1]) for p in path.split(os.sep)[-3:])
            exported += export_partition(spark, src, wh, y, m, d)
        got, exp = spark.read.parquet(wh), spark.read.parquet(src)
        assert len(days) > 1 and got.schema == exp.schema
        assert exported == exp.count() and _rows(got) == _rows(exp)

    def test_unparsed_fraud_row_lands_in_default_partition(self, spark, sinks):
        assert os.path.isdir(f"{sinks}/fraud/Year=__HIVE_DEFAULT_PARTITION__")
        nulls = spark.read.parquet(f"{sinks}/fraud").where(F.col("Year").isNull())
        assert "77" in [r["User"] for r in nulls.collect()]

    def test_invalid_log_values_match_model(self, spark, sinks):
        model = [M.clean_row(r, processed_at=M.PROCESSED_AT) for r in self.ROWS]
        raw_ts = [r[-1] for r in self.ROWS]
        want = [
            # CSV reads an empty string back as null
            (m["Card"] or None, m["User"] or None, m["Amount_USD"],
             M.invalid_reason(m), raw_ts[i] or None)
            for i in M.route_ids(model, "reference")["invalid"]
            for m in [model[i]]
        ]
        inv = spark.read.option("header", True).csv(f"{sinks}/invalid")
        assert inv.columns == INVALID_LOG_COLUMNS
        got = [
            (r["Card"], r["User"], None if r["Amount_USD"] is None else float(r["Amount_USD"]),
             r["invalid_reason"], r["timestamp"])
            for r in inv.collect()
        ]
        assert len(want) > 10
        assert sorted(got, key=repr) == sorted(want, key=repr)

    def test_batch_without_error_or_invalid_rows_leaves_sinks_readable(
        self, spark, tmp_path
    ):
        out = _run_pipeline(spark, sample_rows()[:2], str(tmp_path))
        error = spark.read.parquet(f"{out}/error")
        assert error.columns == OUTPUT_COLUMNS and error.count() == 0
        inv = spark.read.option("header", True).csv(f"{out}/invalid")
        assert inv.columns == INVALID_LOG_COLUMNS and inv.count() == 0
        assert spark.read.parquet(f"{out}/valid").count() == 2

    def test_csv_sinks_match_dataframe_writer(self, spark, want, tmp_path):
        out = _run_pipeline(spark, self.ROWS, str(tmp_path / "csv"), sink_format="csv")
        for sink in ("valid", "fraud"):
            ref = str(tmp_path / f"ref_{sink}")
            to_output(want[sink]).write.partitionBy("Year", "Month", "Day").option(
                "header", True
            ).csv(ref)
            got = spark.read.option("header", True).csv(f"{out}/{sink}")
            exp = spark.read.option("header", True).csv(ref)
            assert got.schema == exp.schema
            assert _rows(got) == _rows(exp)


class TestWindowedOperators:
    @pytest.fixture(scope="class")
    def event_stream_dir(self, spark, sf_dir, tmp_path_factory):
        """sf0.001 events re-written as a single-file stream source."""
        d = str(tmp_path_factory.mktemp("events_stream"))
        load_table(spark, sf_dir, "events").coalesce(1).write.mode("overwrite").parquet(d)
        return d

    def _run_to_memory(self, spark, stream_df, name, mode="append"):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name)

    def test_tumbling_window_matches_batch(self, spark, sf_dir, event_stream_dir):
        ev = load_table(spark, sf_dir, "events")
        stream = spark.readStream.schema(ev.schema).parquet(event_stream_dir)
        got = self._run_to_memory(
            spark,
            windowed_event_stats(stream, window="1 hour", watermark="10 minutes"),
            "tumbling_test",
            mode="append",
        )
        want = (
            ev.groupBy(
                F.window("ts", "1 hour").alias("win"), F.col("event_type")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                    "total_value"
                ),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        got_rows = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in got.collect()
        }
        want_rows = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in want.collect()
        }
        # availableNow append-mode emits every window whose end precedes
        # the final watermark; with a 10-min watermark over a 30-day
        # replay that is all but the last hour — require ≥95% coverage
        # and exact values on everything emitted.
        assert got_rows, "no windows emitted"
        assert all(got_rows[k] == want_rows[k] for k in got_rows)
        assert len(got_rows) >= 0.95 * len(want_rows)

    def test_session_windows_match_batch_sessionization(
        self, spark, sf_dir, event_stream_dir
    ):
        ev = load_table(spark, sf_dir, "events")
        stream = spark.readStream.schema(ev.schema).parquet(event_stream_dir)
        got = self._run_to_memory(
            spark,
            session_event_counts(stream, gap="30 minutes", watermark="30 minutes"),
            "session_test",
            mode="append",
        )
        # Batch truth: lag/cumsum sessionization with the same 30-min gap
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        prev = F.lag(F.col("ts").cast("double")).over(w)
        flagged = ev.withColumn(
            "new_session",
            F.when(prev.isNull() | ((F.col("ts").cast("double") - prev) >= 1800), 1).otherwise(0),
        ).withColumn(
            "session_id",
            F.sum("new_session").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        want = flagged.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events")
        )
        # Compare per-user session-size multisets (session ids differ)
        got_sizes = {}
        for r in got.collect():
            got_sizes.setdefault(r["user_id"], []).append(r["n_events"])
        want_sizes = {}
        for r in want.collect():
            want_sizes.setdefault(r["user_id"], []).append(r["n_events"])
        emitted_users = set(got_sizes)
        assert emitted_users, "no sessions emitted"
        matched = sum(
            sorted(got_sizes[u]) == sorted(want_sizes[u]) for u in emitted_users
        )
        # the final (watermark-open) session per user may be withheld —
        # allow that, but the overwhelming majority must match exactly
        assert matched >= 0.8 * len(emitted_users)

    def test_streaming_dedup_drops_replayed_rows(self, spark, sf_dir, tmp_path):
        ev = load_table(spark, sf_dir, "events").limit(200)
        d = str(tmp_path / "dup_stream")
        # write the same rows twice → two files, duplicated event_ids
        ev.coalesce(1).write.mode("overwrite").parquet(d)
        ev.coalesce(1).write.mode("append").parquet(d)
        stream = spark.readStream.schema(ev.schema).parquet(d)
        got = self._run_to_memory(
            spark,
            dedup_stream(stream, keys=["event_id"], watermark="10 hours"),
            "dedup_test",
        )
        assert got.count() == 200


class TestDailyExport:
    @pytest.fixture()
    def sink(self, spark, tmp_path):
        """The fixture's valid rows as a Spark-written sink, one file per
        row: 2024-01-22 holds user 10's three rows in three files."""
        from tests.fixtures import query_rows, raw_transactions_df

        src = str(tmp_path / "sink")
        cleaned = clean(raw_transactions_df(spark, query_rows()), processed_at=FIXED_TS)
        to_output(route(cleaned)["valid"]).write.option("maxRecordsPerFile", 1).partitionBy(
            "Year", "Month", "Day"
        ).parquet(src)
        return src

    @staticmethod
    def _assert_day_once(spark, src, wh):
        """The warehouse's 2024-01-22 holds the sink day's rows exactly
        once, in the one day file and nothing beside it."""
        got = spark.read.parquet(f"{wh}/{DAY_22}")
        want = spark.read.parquet(f"{src}/{DAY_22}")
        assert got.count() == want.count() > 0
        assert _rows(got) == _rows(want.select(*got.columns))
        assert os.listdir(f"{wh}/{DAY_22}") == [DAY_FILE]

    def test_partition_pruned_export(self, spark, tmp_path):
        from tests.fixtures import raw_transactions_df
        from olap_project_spark.transforms.clean import to_output

        src = str(tmp_path / "sink")
        wh = str(tmp_path / "warehouse")
        cleaned = clean(raw_transactions_df(spark), processed_at=FIXED_TS)
        valid = route(cleaned)["valid"]
        to_output(valid).write.partitionBy("Year", "Month", "Day").parquet(src)

        n = export_partition(spark, src, wh, 2024, 1, 15)
        assert n == 1  # exactly one valid row on 2024-01-15 in the fixture
        out = spark.read.parquet(wh)
        assert out.select(*OUTPUT_COLUMNS).columns == OUTPUT_COLUMNS
        assert out.count() == 1

        # pruning proof: the day predicate must reach the file index
        plan = (
            spark.read.parquet(src)
            .where((F.col("Year") == 2024) & (F.col("Month") == 1) & (F.col("Day") == 15))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan and "Year" in plan

    def test_reexport_replaces_the_day(self, spark, sink, tmp_path):
        """Each call returns the day's rows it wrote, and a second
        export of a day replaces it instead of appending it again."""
        wh = str(tmp_path / "warehouse")
        # user 10's three rows on 2024-01-22 are all valid in reference mode
        assert export_partition(spark, sink, wh, 2024, 1, 22) == 3
        assert export_partition(spark, sink, wh, 2024, 1, 22) == 3
        assert export_partition(spark, sink, wh, 2024, 1, 15) == 1
        assert export_partition(spark, sink, wh, 2024, 3, 1) == 0
        assert spark.read.parquet(wh).count() == 4

    @pytest.mark.parametrize("fault", ["after_first_read", "temp_write", "after_replace"])
    def test_retried_export_lands_the_day_once(self, spark, sink, tmp_path, monkeypatch, fault):
        """One failure at each point of the export, retried by the
        scheduler's policy: the day ends up in the warehouse exactly
        once, with no temp file left."""
        wh = str(tmp_path / "warehouse")
        fired = []

        def fail():
            if not fired:
                fired.append(fault)
                raise OSError(f"injected fault: {fault}")

        if fault == "after_first_read":
            real_read, reads = pq.ParquetFile.read, []

            def read(self, *args, **kwargs):
                if reads:  # sink file 1 of 3 was read
                    fail()
                reads.append(self)
                return real_read(self, *args, **kwargs)

            monkeypatch.setattr(pq.ParquetFile, "read", read)
        elif fault == "temp_write":
            real_write = pq.ParquetWriter.write_table

            def write_table(self, *args, **kwargs):
                fail()
                return real_write(self, *args, **kwargs)

            monkeypatch.setattr(pq.ParquetWriter, "write_table", write_table)
        else:
            real_replace = os.replace

            def replace(*args, **kwargs):
                real_replace(*args, **kwargs)
                fail()

            monkeypatch.setattr(os, "replace", replace)

        report = run_with_retries(
            lambda: export_partition(spark, sink, wh, 2024, 1, 22),
            ExportPolicy(retries=2),
            datetime(2024, 1, 22, 23),
            sleep=lambda _s: None,
        )
        assert fired == [fault]
        assert report.succeeded and report.attempts == 2 and report.result == 3
        self._assert_day_once(spark, sink, wh)

    def test_late_sink_file_lands_once_on_reexport(self, spark, sink, tmp_path):
        wh = str(tmp_path / "warehouse")
        assert export_partition(spark, sink, wh, 2024, 1, 22) == 3
        late = spark.read.parquet(sink).where(F.col("Day") == 22).limit(1)
        late.write.mode("append").partitionBy("Year", "Month", "Day").parquet(sink)
        assert export_partition(spark, sink, wh, 2024, 1, 22) == 4
        self._assert_day_once(spark, sink, wh)

    def test_hidden_files_in_the_sink_day_are_skipped(self, spark, sink, tmp_path):
        """A killed sink worker's ``.part-*.tmp``, checksum files and
        ``_``-prefixed files are not data, as for Spark's reader."""
        day = f"{sink}/{DAY_22}"
        assert any(n.endswith(".crc") for n in os.listdir(day))
        for name in (".part-killed-00000.0.tmp", "_SUCCESS", "_committed_123"):
            with open(f"{day}/{name}", "wb") as f:
                f.write(b"PAR1 not parquet")
        wh = str(tmp_path / "warehouse")
        assert export_partition(spark, sink, wh, 2024, 1, 22) == 3
        self._assert_day_once(spark, sink, wh)

    def test_corrupt_neighbour_day_is_not_read(self, spark, sink, tmp_path):
        with open(f"{sink}/Year=2024/Month=1/Day=15/part-corrupt.snappy.parquet", "wb") as f:
            f.write(b"PAR1 not parquet")
        wh = str(tmp_path / "warehouse")
        assert export_partition(spark, sink, wh, 2024, 1, 22) == 3
        self._assert_day_once(spark, sink, wh)
        assert os.listdir(wh) == ["Year=2024"]
        assert os.listdir(f"{wh}/Year=2024/Month=1") == ["Day=22"]
        with pytest.raises(Exception, match="(?i)parquet"):  # the file is corrupt
            export_partition(spark, sink, wh, 2024, 1, 15)

    def test_foreign_file_in_warehouse_day_raises(self, spark, sink, tmp_path):
        wh = str(tmp_path / "warehouse")
        os.makedirs(f"{wh}/{DAY_22}")
        with open(f"{wh}/{DAY_22}/part-00003-appended.snappy.parquet", "wb") as f:
            f.write(b"")
        with pytest.raises(ValueError, match="part-00003-appended.snappy.parquet"):
            export_partition(spark, sink, wh, 2024, 1, 22)

    def test_export_runs_no_spark_job(self, spark, sink, tmp_path):
        sc = spark.sparkContext
        sc.setJobGroup("export_partition", "export_partition")
        try:
            n = export_partition(spark, sink, str(tmp_path / "warehouse"), 2024, 1, 22)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert n == 3
        assert sc.statusTracker().getJobIdsForGroup("export_partition") == []


class TestDailyRates:
    def test_cascade_and_dimension(self, spark):
        from datetime import date

        from olap_project_spark.sources.rates import (
            daily_rates_df,
            resolve_rate,
        )

        assert resolve_rate(date(2024, 1, 15)) == 25057.0
        assert resolve_rate(date(2024, 1, 15), [lambda d: 24000.0]) == 24000.0
        rates = daily_rates_df(spark, date(2024, 1, 13), date(2024, 1, 20))
        assert rates.count() == 8

    def test_enrich_matches_literal_clean_for_constant_rate(self, spark):
        from datetime import date

        from olap_project_spark.sources.rates import daily_rates_df
        from olap_project_spark.transforms.enrich import enrich_with_daily_rates
        from tests.fixtures import raw_transactions_df

        raw = raw_transactions_df(spark)
        rates = daily_rates_df(spark, date(2024, 1, 1), date(2024, 1, 31))
        enriched = enrich_with_daily_rates(raw, rates, processed_at=FIXED_TS)
        literal = clean(raw, rate=25057.0, processed_at=FIXED_TS)
        a = {r["User"]: r["Amount_VND"] for r in enriched.select("User", "Amount_VND").collect()}
        b = {r["User"]: r["Amount_VND"] for r in literal.select("User", "Amount_VND").collect()}
        assert a == b

    def test_enrich_uses_per_day_rate(self, spark):
        from olap_project_spark.schemas import EXCHANGE_RATE_SCHEMA
        from olap_project_spark.transforms.enrich import enrich_with_daily_rates
        from tests.fixtures import raw_transactions_df

        raw = raw_transactions_df(spark)
        rates = spark.createDataFrame(
            [("2024-01-15", 20000.0), ("2024-01-13", 30000.0)], EXCHANGE_RATE_SCHEMA
        )
        got = {
            r["User"]: (r["Amount_VND"], r["Exchange_Rate"])
            for r in enrich_with_daily_rates(raw, rates, processed_at=FIXED_TS)
            .select("User", "Amount_VND", "Exchange_Rate")
            .collect()
        }
        assert got["0"] == (pytest.approx(125.50 * 20000.0), 20000)  # Jan 15
        assert got["1"] == (pytest.approx(1000.0 * 30000.0), 30000)  # Jan 13
        # day with no rate row → default fallback
        assert got["3"][1] == 25057


class TestStreamingManifestCommit:
    def test_each_microbatch_commits_one_snapshot(
        self, spark, raw_json_dir, tmp_path
    ):
        """Streaming ingest writing THROUGH the manifest sink: every
        micro-batch commits exactly one snapshot version, so the stream
        gets the transactional fence the reference's WRITE_APPEND path
        lacked — a failed batch leaves only invisible staging files,
        and downstream readers see batch-atomic state."""
        from olap_project_spark.export.manifest_sink import (
            read_committed,
            save_manifest,
            table_versions,
        )
        from olap_project_spark.streaming.pipeline import read_file_stream
        from olap_project_spark.transforms import clean

        path = str(tmp_path / "mtbl")
        ckpt = str(tmp_path / "mckpt")
        stream = read_file_stream(spark, raw_json_dir, fmt="json")

        def commit_batch(batch_df, batch_id):
            out = clean(batch_df, processed_at=FIXED_TS).select(
                "User", "Amount_USD", "Is_Fraud"
            )
            save_manifest(out, path)

        q = (
            stream.writeStream.foreachBatch(commit_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        versions = table_versions(path)
        assert versions == [1]  # one micro-batch → one snapshot
        sch = "User string, Amount_USD double, Is_Fraud string"
        from pyspark.sql.types import _parse_datatype_string

        got = read_committed(spark, path, _parse_datatype_string(sch))
        assert got.count() == len(sample_rows())  # every fixture row, once
