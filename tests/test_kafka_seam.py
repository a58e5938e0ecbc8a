"""Kafka source seam (cdc/source_kafka.py): everything provable without
a broker/connector jar — option wiring, the value-column contract that
bridges Kafka's wire schema to the envelope parsers, and the
construction guard."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from chunker_spark.cdc.source_kafka import (
    build_kafka_stream,
    kafka_available,
    kafka_reader_options,
    kafka_value_lines,
)


def test_reader_options_pinned():
    opts = kafka_reader_options("broker1:9092,broker2:9092", "cdc.repos")
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "cdc.repos",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
    }


def test_reader_options_knobs_and_passthrough():
    opts = kafka_reader_options(
        "b:9092",
        "t",
        starting_offsets="latest",
        max_offsets_per_trigger=50_000,
        fail_on_data_loss=False,
        extra={"kafka.security.protocol": "SSL", "minPartitions": 64},
    )
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "50000"  # stringified for the option API
    assert opts["failOnDataLoss"] == "false"
    assert opts["kafka.security.protocol"] == "SSL"
    assert opts["minPartitions"] == "64"


def test_reader_options_required():
    with pytest.raises(ValueError):
        kafka_reader_options("", "t")
    with pytest.raises(ValueError):
        kafka_reader_options("b:9092", "")


def test_value_contract_feeds_envelope_parser(spark):
    """A batch frame with the Kafka source's exact wire schema, run
    through the projection + the Debezium parser: the seam yields the
    same single-string-column shape the file source produces, and the
    envelope parses end-to-end (binary payload survives the cast)."""
    from chunker_spark.cdc.envelopes import parse_debezium

    env = json.dumps(
        {
            "op": "c",
            "ts_ms": 1700000000000,
            "before": None,
            "after": {"repo": "r1", "path": "a.py", "commit": "c1",
                      "lang": "python", "content": "x = 1\n"},
            "source": {"lsn": "7", "db": "repos"},
        }
    ).encode()
    kafka_shaped = spark.createDataFrame(
        [(b"key-r1", env, "cdc.repos", 3, 42, None)],
        "key binary, value binary, topic string, partition int, offset long, timestamp timestamp",
    )
    lines = kafka_value_lines(kafka_shaped)
    assert lines.columns == ["value"]
    assert dict(lines.dtypes)["value"] == "string"
    ev = parse_debezium(lines).first()
    assert (ev.repo, ev.path, ev.seq, ev.op) == ("r1", "a.py", 7, "I")


def test_value_contract_missing_column():
    import pandas as pd

    class Fake:
        columns = ["key", "payload"]

    with pytest.raises(ValueError, match="value"):
        kafka_value_lines(Fake())


def test_construction_guard_without_jar(spark):
    """This sandbox has no spark-sql-kafka connector: availability is
    False and stream construction refuses with the remediation hint."""
    if kafka_available(spark):  # pragma: no cover - jar-present environment
        pytest.skip("connector jar present; guard not exercisable")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        build_kafka_stream(spark, "b:9092", "t")


def test_ingest_stream_kafka_validation(spark, tmp_path):
    from chunker_spark.cdc.lake import LakeTable
    from chunker_spark.cdc.streaming import IngestStream

    lake = LakeTable(spark, str(tmp_path / "lake"))
    ck = str(tmp_path / "ck")
    common = dict(spark=spark, lake=lake, events_dir="unused", checkpoint_dir=ck)

    with pytest.raises(ValueError, match="wire_format"):
        IngestStream(**common, source="kafka",
                     kafka_bootstrap_servers="b:9092", kafka_topic="t")
    with pytest.raises(ValueError, match="bootstrap"):
        IngestStream(**common, source="kafka", wire_format="debezium")
    with pytest.raises(ValueError, match="file-source knobs"):
        IngestStream(**common, source="kafka", wire_format="debezium",
                     kafka_bootstrap_servers="b:9092", kafka_topic="t",
                     max_files_per_trigger=4)
    with pytest.raises(ValueError, match="unknown source"):
        IngestStream(**common, source="pulsar")

    # a valid construction wires the option passthrough; building the
    # stream then hits the jar guard (not an option error)
    s = IngestStream(**common, source="kafka", wire_format="debezium",
                     kafka_bootstrap_servers="b:9092", kafka_topic="t",
                     kafka_options={"max_offsets_per_trigger": 1000})
    if not kafka_available(spark):
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            s._build_stream()
