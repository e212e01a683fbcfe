"""Raw-text source connectors: JSON-lines and CSV feed ingestion.

The reference consumes its feeds as *strings* — Kafka/EventHub hand the
notebook a ``value`` column that is parsed with ``from_json`` against an
explicit schema (``Bronze-Silver/Part1 ….scala:119``); nothing is ever
schema-inferred.  These connectors reproduce that contract over the
formats a file-drop pipeline actually receives: newline-delimited
JSON and CSV.  Both run the SAME downstream bronze parse as the
parquet path, and the correctness gate proves every source lands
identical rows (oracle = the parquet-derived bronze).

Scale shape: staging writes partitioned text; reads are map-only
line-parses with explicit schemas (no inference pass over the data —
the classic double-scan trap of ``inferSchema``); everything lands in
the one codegen stage `parse_bronze` already occupies.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.ingest.bronze import parse_bronze
from telemetry_streaming_datalake_spark.session import load_table, scratch_dir

#: explicit wire schema of one feed record (ts as epoch micros — the
#: integer transport every log shipper uses; no string-format ambiguity)
EVENT_WIRE_SCHEMA = (
    "event_id BIGINT, ts_us BIGINT, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _wire_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events in wire form: ts flattened to epoch micros."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def stage_events_jsonl(spark: SparkSession, sf_dir: str, work_dir: str | None = None) -> str:
    """Serialize the events feed as newline-delimited JSON records —
    the Kafka-topic stand-in (one JSON document per line, the nested
    ``props`` JSON string escaped inside it)."""
    out = os.path.join(work_dir or scratch_dir("jsonl_"), "events_jsonl")
    _wire_frame(spark, sf_dir).select(
        F.to_json(F.struct("event_id", "ts_us", "user_id", "event_type", "value", "props")).alias(
            "value"
        )
    ).write.mode("overwrite").text(out)
    return out


def read_events_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Schema-on-read of the JSONL feed, reference-style: the file is
    read as raw lines (exactly what a message bus delivers) and parsed
    with ``from_json`` + the explicit wire schema — never inference."""
    lines = spark.read.text(path)
    rec = lines.select(F.from_json("value", EVENT_WIRE_SCHEMA).alias("r")).select("r.*")
    return rec.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def bronze_from_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full path: stage → raw-line read → from_json → bronze parse.
    Must equal ``bronze_parse`` on the parquet source row-for-row."""
    path = stage_events_jsonl(spark, sf_dir)
    return parse_bronze(read_events_jsonl(spark, path))


def stage_events_csv(spark: SparkSession, sf_dir: str, work_dir: str | None = None) -> str:
    """Serialize the feed as quoted CSV (``props`` carries commas and
    quotes — exercises the quoting/escape path)."""
    out = os.path.join(work_dir or scratch_dir("csv_"), "events_csv")
    _wire_frame(spark, sf_dir).write.mode("overwrite").option("header", "true").option(
        "escape", '"'
    ).csv(out)
    return out


def read_events_csv(spark: SparkSession, path: str) -> DataFrame:
    """Explicit-schema CSV read (``inferSchema`` would be a second full
    scan of the data — never at scale)."""
    rec = (
        spark.read.schema(EVENT_WIRE_SCHEMA)
        .option("header", "true")
        .option("escape", '"')
        .csv(path)
    )
    return rec.select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def bronze_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full path: stage → schema'd CSV read → bronze parse."""
    path = stage_events_csv(spark, sf_dir)
    return parse_bronze(read_events_csv(spark, path))
