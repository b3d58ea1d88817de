"""The POS simulator as a native Spark data source (PySpark 4 Python
DataSource API): deterministic batch slices, streaming offsets, and
compatibility with the clean/route pipeline."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from olap_project_spark.schemas import (
    DEFAULT_VND_PER_USD,
    INVALID_LOG_COLUMNS,
    RAW_TRANSACTION_SCHEMA,
)
from olap_project_spark.sources.pos_datasource import PosSimulatorDataSource
from olap_project_spark.streaming.pipeline import start_pipeline
from olap_project_spark.transforms import clean, route
from olap_project_spark.transforms.enrich import enrich_with_daily_rates

POS_ROWS = 800
POS_SEED = 42
FIXED_TS = "2024-01-15 08:30:20"
# one quoted rate per event day except 2024-01-18: a rate-feed gap
DAILY_RATES = (
    ("2024-01-15", 24510.0),
    ("2024-01-16", 24655.0),
    ("2024-01-17", 24820.0),
    ("2024-01-19", 25130.0),
    ("2024-01-20", 25240.0),
)


@pytest.fixture(scope="module")
def registered(spark):
    # registering the same source again replaces it: idempotent
    spark.dataSource.register(PosSimulatorDataSource)
    return spark


@pytest.fixture(scope="module")
def fmt():
    return PosSimulatorDataSource.name()


class TestBatchSource:
    def test_schema_and_count(self, registered, fmt):
        df = registered.read.format(fmt).option("rows", 500).load()
        assert df.schema == RAW_TRANSACTION_SCHEMA
        assert df.count() == 500

    def test_deterministic_given_seed(self, registered, fmt):
        a = registered.read.format(fmt).option("rows", 200).load()
        b = registered.read.format(fmt).option("rows", 200).load()
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        c = (
            registered.read.format(fmt)
            .option("rows", 200)
            .option("seed", 7)
            .load()
        )
        assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))

    def test_partitioned_generation(self, registered, fmt):
        df = (
            registered.read.format(fmt)
            .option("rows", 100)
            .option("partitions", 4)
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        assert df.count() == 100

    def test_feeds_clean_route_pipeline(self, registered, fmt):
        raw = registered.read.format(fmt).option("rows", 400).load()
        streams = route(clean(raw))
        counts = {k: v.count() for k, v in streams.items()}
        assert sum(counts.values()) >= 400  # reference-mode valid∩fraud overlap
        assert counts["fraud"] > 0 and counts["error"] > 0
        # every generated amount parses: no invalid-amount routing
        cleaned = clean(raw)
        assert cleaned.filter(F.col("Amount_USD").isNull()).count() == 0


class TestStreamSource:
    def test_micro_batches_drain_bounded_replay(self, registered, fmt, tmp_path):
        # Python stream sources don't support availableNow (the engine
        # logs a single-batch fallback) — drain with processAllAvailable
        # over a bounded feed instead.
        name = f"pos_stream_{uuid.uuid4().hex[:8]}"
        q = (
            registered.readStream.format(fmt)
            .option("rows", 250)
            .option("rows_per_batch", 100)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = registered.table(name)
        assert got.count() == 250
        # identical to the batch generation of the same range
        batch = registered.read.format(fmt).option("rows", 250).load()
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, batch.collect())
        )


def _daily_rates_vnd(spark, fmt):
    """Simulator fact enriched with its day's rate, summed per (event
    date, applied rate) as exact DECIMAL(18,2)."""
    raw = (
        spark.read.format(fmt)
        .option("rows", POS_ROWS)
        .option("seed", POS_SEED)
        .option("partitions", 8)
        .load()
    )
    rates = spark.createDataFrame(
        list(DAILY_RATES), "rate_date string, rate_vnd_per_usd double"
    )
    fact = enrich_with_daily_rates(raw, rates, processed_at=FIXED_TS)
    return (
        fact.withColumn("rate_date", F.date_format("Transaction_Date", "yyyy-MM-dd"))
        .groupBy("rate_date", F.col("Exchange_Rate").alias("ex_rate"))
        .agg(
            F.count("*").alias("n_txns"),
            F.sum(F.col("Amount_VND").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_vnd"),
        )
    )


class TestDailyRates:
    def test_gap_day_falls_back_to_default(self, registered, fmt):
        """2024-01-18 has no quoted rate → the left join's coalesce
        applies DEFAULT_VND_PER_USD instead of dropping rows."""
        rows = {
            r["rate_date"]: r
            for r in _daily_rates_vnd(registered, fmt).collect()
        }
        assert len(rows) == 6  # one row per event date
        gap = rows["2024-01-18"]
        assert gap["ex_rate"] == int(DEFAULT_VND_PER_USD)
        assert gap["n_txns"] > 0 and gap["total_vnd"] > 0
        for d, rate in DAILY_RATES:
            assert rows[d]["ex_rate"] == int(rate)

    def test_vnd_total_is_rate_exact(self, registered, fmt):
        """Each day's VND total equals that day's rate times the day's
        exact USD cents (the decimal-cast contract)."""
        got = {
            r["rate_date"]: r
            for r in _daily_rates_vnd(registered, fmt).collect()
        }
        raw = (
            registered.read.format(fmt)
            .option("rows", POS_ROWS)
            .option("seed", POS_SEED)
            .load()
        )
        by_day: dict[str, int] = {}
        for r in raw.select("Amount", "timestamp").collect():
            cents = int(r["Amount"].replace("$", "").replace(".", "").replace(",", ""))
            day = r["timestamp"][:10]
            by_day[day] = by_day.get(day, 0) + cents
        for day, row in got.items():
            expected = by_day[day] * row["ex_rate"] / 100
            assert abs(row["total_vnd"] - expected) < 0.01, day

    def test_rates_join_broadcasts_dim(self, registered, fmt):
        """The rows-per-day rates dimension must broadcast; the fact
        side must reach the join unshuffled (the only Exchange in the
        plan is the final keyed aggregate's)."""
        p = (
            _daily_rates_vnd(registered, fmt)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
        # nothing repartitions the fact to meet the dimension
        pre_join = p.split("BroadcastHashJoin")[-1]  # tree prints deepest last
        assert "Exchange hashpartitioning" not in pre_join


class TestPipelineSinks:
    """The simulator stream through the real foreachBatch pipeline: two
    400-row micro-batches, four routed sinks."""

    @pytest.fixture(scope="class")
    def sinks(self, registered, fmt):
        stream = (
            registered.readStream.format(fmt)
            .option("rows", POS_ROWS)
            .option("seed", POS_SEED)
            .option("rows_per_batch", 400)
            .load()
        )
        root = tempfile.mkdtemp(prefix="pos_route_")
        q = start_pipeline(
            stream,
            out_dir=f"{root}/out",
            checkpoint_dir=f"{root}/ckpt",
            processed_at=FIXED_TS,
            trigger={"processingTime": "0 seconds"},
        )
        q.processAllAvailable()
        q.stop()
        yield f"{root}/out"
        shutil.rmtree(root, ignore_errors=True)

    def test_expected_stream_mix(self, registered, sinks):
        """Every seed-42 row is well-formed (valid = all 800 in
        reference mode, which does NOT exclude fraud/error), fraud and
        error subsets are non-trivial, invalid is empty (the
        empty-CSV-sink leg stays readable)."""

        def stats(name):
            df = registered.read.parquet(f"{sinks}/{name}")
            return df.agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("Amount_VND").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_vnd"),
            ).first()

        valid, fraud, error = stats("valid"), stats("fraud"), stats("error")
        inv_schema = ", ".join(f"`{c}` string" for c in INVALID_LOG_COLUMNS)
        invalid = (
            registered.read.schema(inv_schema)
            .option("header", True)
            .csv(f"{sinks}/invalid")
        )
        assert valid["n_rows"] == POS_ROWS
        assert fraud["n_rows"] == 53
        assert error["n_rows"] == 19
        assert invalid.count() == 0
        # fraud is a subset of valid in reference mode
        assert fraud["total_vnd"] < valid["total_vnd"]

    def test_sinks_partitioned_by_calendar(self, registered, sinks):
        """The valid sink is written partitionBy(Year, Month, Day):
        a calendar predicate on read-back is a partition filter."""
        valid = registered.read.parquet(f"{sinks}/valid")
        one_day = valid.filter(
            (F.col("Year") == 2024) & (F.col("Month") == 1) & (F.col("Day") == 15)
        )
        plan = one_day._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert one_day.count() > 0
