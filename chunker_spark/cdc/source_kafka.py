"""Kafka source seam: the production transport for CDC envelopes.

Real Debezium/Maxwell streams arrive on a Kafka topic, not as JSON-lines
files; the file tail in streaming.py is the in-sandbox stand-in (this
container has no Kafka connector jar and no network). Everything that
can be exercised without a broker IS — option wiring
(``kafka_reader_options``), the value-column contract that bridges
Kafka's wire schema to the envelope parsers (``kafka_value_lines``,
testable on a batch DataFrame with the same schema), and the
construction guard — while ``build_kafka_stream`` raises unless the
``spark-sql-kafka-0-10`` connector is actually on the classpath. See
docs/deploy_seams.md for the jar-present run recipe.

Semantics at scale: the Kafka source's offsets live in the SAME
checkpoint WAL as the file source's, so the exactly-once story is
unchanged — offset ranges are re-delivered after a crash and the lake's
batch-id ledger turns re-applied batches into no-ops. Partition
parallelism maps 1:1 onto Kafka partitions; ``maxOffsetsPerTrigger`` is
the batch-size knob (rows, spread across partitions), playing the role
``maxBytesPerTrigger`` plays for segment files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def kafka_available(spark: SparkSession) -> bool:
    """True iff the spark-sql-kafka connector is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """The exact option map handed to ``readStream.format("kafka")`` —
    a pure function so the wiring is unit-pinned without a broker.

    * ``failOnDataLoss=true`` by default: a CDC consumer that silently
      skips an expired/compacted offset range has lost changes — fail
      loudly and let the operator re-snapshot instead (flip to false
      only for lossy-tolerant analytics tails).
    * ``startingOffsets`` applies to the FIRST start only; afterwards
      the checkpoint WAL owns offsets (exactly-once resume).
    * ``maxOffsetsPerTrigger`` bounds micro-batch size in events,
      proportionally across topic partitions.
    """
    if not bootstrap_servers:
        raise ValueError("bootstrap_servers is required")
    if not topic:
        raise ValueError("topic is required")
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true" if fail_on_data_loss else "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(int(max_offsets_per_trigger))
    for k, v in (extra or {}).items():
        opts[str(k)] = str(v)
    return opts


def kafka_value_lines(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Bridge Kafka's wire schema to the envelope-parser contract.

    The Kafka source yields ``key/value: binary`` plus
    ``topic/partition/offset/timestamp*`` metadata; the Debezium/Maxwell
    parsers (envelopes.py) and the DLQ split both consume a single
    STRING ``value`` column — the same shape the JSON-lines file source
    produces, so everything downstream of the source is source-agnostic.
    Envelope payloads are UTF-8 JSON, so the cast is total; a payload
    that is not valid JSON still reaches the parser as a string and
    lands in the DLQ with its bytes intact (cast, not decode-or-throw).
    Works on batch or streaming frames (used in tests on a batch frame
    with the Kafka schema).
    """
    if value_col not in df.columns:
        raise ValueError(f"expected a {value_col!r} column, got {df.columns}")
    return df.select(F.col(value_col).cast("string").alias(value_col))


def build_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    **option_kwargs,
) -> DataFrame:
    """readStream.format("kafka") with the pinned option map, projected
    to the envelope-parser value contract. Raises unless the connector
    jar is on the classpath (sandbox has none; see docs/deploy_seams.md
    for the spark-submit incantation that provides it)."""
    if not kafka_available(spark):
        raise RuntimeError(
            "Kafka connector (spark-sql-kafka-0-10) not on the classpath; "
            "use the JSON-lines file source (IngestStream(source='files')) "
            "or submit with --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        )
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(bootstrap_servers, topic, **option_kwargs).items():
        reader = reader.option(k, v)
    return kafka_value_lines(reader.load())
