"""Text source connectors: JSONL / CSV ingestion must land the exact
bronze rows the parquet path produces (same downstream parse)."""

from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.ingest import bronze as B
from telemetry_streaming_datalake_spark.sources import textfeeds as TF

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_jsonl_equals_parquet_bronze(spark, events):
    expect = _rows(B.parse_bronze(events))
    got = _rows(TF.bronze_from_jsonl(spark, SF_DIR))
    assert got == expect


def test_csv_equals_parquet_bronze(spark, events):
    expect = _rows(B.parse_bronze(events))
    got = _rows(TF.bronze_from_csv(spark, SF_DIR))
    assert got == expect


def test_props_json_survives_escaping(spark):
    """The nested props JSON string round-trips both transports intact
    (quotes escaped in JSONL, quoting in CSV)."""
    path = TF.stage_events_jsonl(spark, SF_DIR)
    back = TF.read_events_jsonl(spark, path)
    assert back.filter(F.col("props").isNull()).count() == 0
    k = back.select(F.get_json_object("props", "$.k").cast("bigint").alias("k"))
    assert k.filter(F.col("k").isNull()).count() == 0


def test_schema_evolution_mergeschema(spark, tmp_path):
    """A feed that grows a column mid-stream: batch 2 adds `extra`.
    mergeSchema=true unions the file schemas; batch-1 rows surface
    NULL for the new column (the lakehouse schema-evolution contract
    the reference gets from Delta's mergeSchema on its bronze appends)."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "lake")
    spark.range(3).select(F.col("id"), F.lit("a").alias("v")).write.parquet(p)
    spark.range(3, 5).select(
        F.col("id"), F.lit("b").alias("v"), F.lit(1.5).alias("extra")
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "extra"}
    rows = {r.id: r for r in df.collect()}
    assert rows[0].extra is None and rows[4].extra == 1.5
    # and the widened schema is stable for downstream parses
    assert df.filter(F.col("extra").isNull()).count() == 3


def test_feed_c_type_dispatch_literal(spark):
    """One mixed topic, three record schemas: the when-dispatch must
    route each shape to its parse path — flat passthrough, zipped
    batch arrays, and the status-code remap ladder."""
    from telemetry_streaming_datalake_spark.ingest import feeds as FB

    raw = spark.createDataFrame(
        [
            ('{"type":"reading","sn":"7","m":"click","eid":10,"ts":1704067200,"val":2.5}',),
            ('{"type":"batch","sn":"8","m":"view","eid_arr":[20,21],'
             '"ts_arr":[1704067260,1704067320],"val_arr":[1.0,4.0]}',),
            ('{"type":"status","sn":"9","m":"state","eid":30,"ts":1704067380,"code":"6"}',),
            ('{"type":"status","sn":"9","m":"state","eid":31,"ts":1704067440,"code":"4"}',),
            ('{"type":"status","sn":"9","m":"state","eid":32,"ts":1704067500,"code":"0"}',),
        ],
        "raw string",
    )
    got = {
        r.event_id: (r.serial, r.metric, r.value, r.unix_ts, r.record_type)
        for r in FB.parse_bronze_feed_c(raw).collect()
    }
    assert got == {
        10: ("7", "click", 2.5, 1704067200, "reading"),
        20: ("8", "view", 1.0, 1704067260, "batch"),
        21: ("8", "view", 4.0, 1704067320, "batch"),
        30: ("9", "state", 3.0, 1704067380, "status"),   # 6 → 3
        31: ("9", "state", 0.0, 1704067440, "status"),   # 2..5 → 0
        32: ("9", "state", 2.0, 1704067500, "status"),   # else → 2
    }


def test_feed_c_roundtrip_matches_events(spark, events):
    """Pack→parse over the real feed reproduces every event exactly
    once with the documented per-type value transform."""
    from telemetry_streaming_datalake_spark.ingest import feeds as FB

    out = FB.bronze_feed_c(events)
    n = events.count()
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n
    # non-status rows keep their raw value
    joined = out.join(
        events.select("event_id", F.col("value").alias("raw_value")), "event_id"
    )
    mismatched = joined.filter(
        (F.col("record_type") != "status") & (F.col("value") != F.col("raw_value"))
    )
    assert mismatched.count() == 0
