"""Broker-free tests of the Kafka wire format (S2/S3 source decode and
K5 sink encode): the payload transforms are pure DataFrame functions, so
encode → decode must round-trip the raw-transaction schema exactly.
This is the testable half of the Kafka contract; the transport itself
(reference docker-compose broker) needs a cluster with the
spark-sql-kafka package and is exercised only there."""

from __future__ import annotations

from pyspark.sql import functions as F

from olap_project_spark.schemas import RAW_TRANSACTION_SCHEMA
from olap_project_spark.streaming.pipeline import (
    decode_kafka_value,
    encode_kafka_payload,
)
from tests.fixtures import query_rows, raw_transactions_df


class TestKafkaWireFormat:
    def test_round_trip_preserves_rows(self, spark):
        raw = raw_transactions_df(spark, query_rows())
        wire = encode_kafka_payload(raw)
        back = decode_kafka_value(wire)
        assert back.schema == raw.schema
        def none_safe(t):
            return tuple((v is None, v) for v in t)

        orig = sorted(map(tuple, raw.collect()), key=none_safe)
        rt = sorted(map(tuple, back.collect()), key=none_safe)
        assert rt == orig

    def test_key_is_card_string(self, spark):
        raw = raw_transactions_df(spark, query_rows())
        wire = encode_kafka_payload(raw)
        assert [f.name for f in wire.schema.fields] == ["key", "value"]
        row = wire.filter(F.col("key").isNotNull()).first()
        assert isinstance(row["key"], str)

    def test_decode_tolerates_binary_value(self, spark):
        """The real Kafka source surfaces value as BINARY — the decoder
        must cast, not assume string."""
        raw = raw_transactions_df(spark, query_rows())
        wire = encode_kafka_payload(raw).select(
            "key", F.col("value").cast("binary").alias("value")
        )
        assert decode_kafka_value(wire).count() == raw.count()

    def test_malformed_value_yields_nulls_not_failure(self, spark):
        """Consumer robustness: a garbage payload must produce a null
        row (reference drops them in clean()), never a query failure."""
        bad = spark.createDataFrame([("k", "{not json")], ["key", "value"])
        out = decode_kafka_value(bad).collect()
        assert len(out) == 1
        assert all(v is None for v in out[0])
