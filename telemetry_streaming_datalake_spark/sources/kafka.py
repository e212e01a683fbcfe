"""Kafka source/sink seam: the reference's broker contract, pluggable.

The reference ingests every feed with one reader shape
(``Bronze-Silver/Part1 - Step 01-02 ….scala:26``)::

    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", kafkaBrokers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("minPartitions", "10")
      .option("failOnDataLoss", "false")
      .load()

and publishes gold streams back through the matching writer.  This
module reproduces that option contract exactly — the configs and the
``reader_options`` / ``writer_options`` builders are the seam a real
deployment points at a broker — while execution in this environment
(no Kafka jar, no broker) goes through a FILE ANALOG that emits the
genuine Kafka wire schema (key/value binary, topic, partition, offset,
timestamp, timestampType), so every downstream transform is exercised
on the exact frame shape ``format("kafka")`` produces.

Scale shape: ``minPartitions`` is the broker-side parallelism floor
(Spark splits topic-partitions into that many tasks); the value parse
is ``from_json`` with the explicit wire schema (never inference) and
lands in the same codegen stage as ``parse_bronze`` — the whole
kafka→bronze hop is map-only, no shuffle until the watermarked dedup.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.ingest.bronze import parse_bronze
from telemetry_streaming_datalake_spark.session import scratch_dir
from telemetry_streaming_datalake_spark.sources.textfeeds import (
    EVENT_WIRE_SCHEMA,
    stage_events_jsonl,
)

#: the schema format("kafka") hands every consumer — the file analog
#: emits exactly this so downstream code is wire-shape-exact
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, "
    "offset BIGINT, timestamp TIMESTAMP, timestampType INT"
)


@dataclass(frozen=True)
class KafkaSourceConfig:
    """Reader contract of ``Part1 ….scala:26`` as data."""

    bootstrap_servers: str
    subscribe: str
    starting_offsets: str = "latest"
    fail_on_data_loss: bool = False
    min_partitions: int | None = 10
    #: extra ``kafka.``-prefixed client options (auth etc.) passed through
    extra: dict[str, str] = field(default_factory=dict)


@dataclass(frozen=True)
class KafkaSinkConfig:
    """Writer contract of the publish hop (gold → topic)."""

    bootstrap_servers: str
    topic: str
    checkpoint_location: str
    extra: dict[str, str] = field(default_factory=dict)


def reader_options(cfg: KafkaSourceConfig) -> dict[str, str]:
    """The exact option map the reference reader sets — unit-tested so
    a broker swap-in cannot drift from the contract."""
    opts = {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        "subscribe": cfg.subscribe,
        "startingOffsets": cfg.starting_offsets,
        "failOnDataLoss": "true" if cfg.fail_on_data_loss else "false",
    }
    if cfg.min_partitions is not None:
        opts["minPartitions"] = str(cfg.min_partitions)
    opts.update(cfg.extra)
    return opts


def writer_options(cfg: KafkaSinkConfig) -> dict[str, str]:
    opts = {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        "topic": cfg.topic,
        "checkpointLocation": cfg.checkpoint_location,
    }
    opts.update(cfg.extra)
    return opts


def kafka_read_stream(spark: SparkSession, cfg: KafkaSourceConfig) -> DataFrame:
    """Construct the real broker reader.  Requires the
    ``spark-sql-kafka`` package on the classpath; in environments
    without it (this sandbox) use :func:`file_analog_wire_stream`,
    which yields the identical wire schema."""
    reader = spark.readStream.format("kafka")
    for k, v in reader_options(cfg).items():
        reader = reader.option(k, v)
    return reader.load()


def file_analog_wire_stream(
    spark: SparkSession, sf_dir: str, work_dir: str, topic: str = "events"
) -> DataFrame:
    """The execution stand-in: stage the feed as JSONL, stream the raw
    lines, and wrap them in the Kafka wire schema.  ``partition`` is a
    uniform hash of the payload (what a key-less producer's round-robin
    looks like after the fact), ``offset`` is deterministic per record.
    """
    from telemetry_streaming_datalake_spark.streaming.pipeline import landing_stream

    lines = landing_stream(spark, stage_events_jsonl(spark, sf_dir, work_dir), fmt="text")
    return lines.select(
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.xxhash64("value"), F.lit(10)).cast("int").alias("partition"),
        F.xxhash64("value").alias("offset"),
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def wire_to_bronze(wire: DataFrame) -> DataFrame:
    """kafka wire frame → bronze rows, reference-style: ``value`` cast
    to string, parsed with ``from_json`` against the explicit wire
    schema (``Part1 ….scala:33`` does per-field ``get_json_object``;
    one ``from_json`` is the single-parse spelling of the same
    extraction), then the shared ``parse_bronze``.  Batch and streaming
    frames take the identical path."""
    rec = wire.select(
        F.from_json(F.col("value").cast("string"), EVENT_WIRE_SCHEMA).alias("r")
    ).select("r.*")
    typed = rec.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return parse_bronze(typed)


def to_wire(df: DataFrame, key_col: str) -> DataFrame:
    """Publish-side serialization: ALL columns (key included — each
    record is self-contained and replayable without its key) JSON-
    packed into ``value``, ``key`` from ``key_col`` — the (key, value)
    frame ``format("kafka")`` writers require."""
    payload = [c for c in df.columns]
    return df.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*payload)).cast("binary").alias("value"),
    )


def bronze_from_kafka_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable full path: stage → wire-schema stream → value
    parse → bronze, drained availableNow.  Must equal ``bronze_parse``
    on the parquet source row-for-row (oracle = BRONZE_PARSE_ORACLE)."""
    from telemetry_streaming_datalake_spark.streaming.pipeline import drain

    work = scratch_dir("kafka_")
    wire = file_analog_wire_stream(spark, sf_dir, work)
    bronze = wire_to_bronze(wire)
    out = os.path.join(work, "bronze_out")
    ckpt = os.path.join(work, "ckpt")
    drain(bronze, ckpt, path=out)
    return spark.read.parquet(out)
