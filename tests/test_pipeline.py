"""Medallion pipeline unit tests (bronze → silver → gold → rollups)."""

import pytest
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark import datamodel as dm
from telemetry_streaming_datalake_spark.ingest import bronze as B
from telemetry_streaming_datalake_spark.ingest import silver as S
from telemetry_streaming_datalake_spark.operators import custom_metric as CM
from telemetry_streaming_datalake_spark.operators import latest as L
from telemetry_streaming_datalake_spark.operators import rollup as R
from telemetry_streaming_datalake_spark.operators import temporal as T


@pytest.fixture(scope="module")
def bronze(events):
    return B.parse_bronze(events).cache()


@pytest.fixture(scope="module")
def gold(spark, bronze, customer):
    silver = S.to_silver(B.dedup_exact(bronze), dm.metric_mapping(spark))
    return T.enrich_gold(silver, dm.remote_history(spark, customer)).cache()


def test_bronze_extracts_json_and_normalizes_ts(bronze, events):
    row = bronze.orderBy("event_id").first()
    src = events.orderBy("event_id").first()
    assert row["payload_k"] is not None
    assert row["unix_ts"] == int(src["ts"].timestamp())
    assert row["datestamp"] == src["ts"].strftime("%Y-%m-%d")
    assert len(row["unique_hash_key"]) == 32


def test_dedup_is_deterministic_and_keyed(spark):
    df = spark.createDataFrame(
        [(2, "k1"), (1, "k1"), (3, "k2")], ["event_id", "unique_hash_key"]
    )
    kept = B.dedup_exact(df).orderBy("event_id").collect()
    assert [(r.event_id, r.unique_hash_key) for r in kept] == [(1, "k1"), (3, "k2")]


def test_silver_normalizes_status_values(spark):
    raw = spark.createDataFrame(
        [
            (1, "7", "signup", 5.0, 1, 1704067200, "2024-01-01", "2024-01-01 00", "h1"),
            (2, "7", "error", -3.0, 2, 1704067201, "2024-01-01", "2024-01-01 00", "h2"),
            (3, "7", "click", 2.5, 3, 1704067202, "2024-01-01", "2024-01-01 00", "h3"),
        ],
        "event_id long, serial string, metric string, value double, payload_k long,"
        " unix_ts long, datestamp string, hourstamp string, unique_hash_key string",
    )
    out = {r.metric: r.value for r in S.to_silver(raw, dm.metric_mapping(spark)).collect()}
    assert out == {"signup": 1.0, "error": 0.0, "click": 2.5}


def test_temporal_join_picks_interval_containing_ts(spark, customer):
    silver = spark.createDataFrame(
        [
            # slot 0 (first 10 days)
            (1, "8", "click", 1.0, 1, dm.HISTORY_EPOCH + 5, "2024-01-01", "2024-01-01 00", 100, 1, "SUM", 1),
            # slot 2 (open-ended)
            (2, "8", "click", 1.0, 1, dm.HISTORY_EPOCH + 25 * 86400, "2024-01-26", "2024-01-26 00", 100, 1, "SUM", 1),
        ],
        "event_id long, serial string, metric string, value double, payload_k long,"
        " unix_ts long, datestamp string, hourstamp string,"
        " metric_id long, provider_id long, agg_type string, category_id long",
    )
    hist = dm.remote_history(spark, customer)
    out = {r.event_id: r.remote_id for r in T.enrich_gold(silver, hist).collect()}
    assert out == {1: 80, 2: 82}


def test_temporal_join_excludes_private_remotes(gold):
    # serials divisible by 50 are flagged private and must be filtered
    assert gold.filter(F.col("serial").cast("long") % 50 == 0).count() == 0


def test_rollup_day_sums_within_bucket(spark):
    gold = spark.createDataFrame(
        [
            (10, 100, 1, 1, "SUM", 1704067200 + 10, "2024-01-01", 2.0),
            (10, 100, 1, 1, "SUM", 1704067200 + 7200, "2024-01-01", 3.0),
            (10, 100, 1, 1, "SUM", 1704067200 + 86400 + 5, "2024-01-02", 5.0),
        ],
        "remote_id long, metric_id long, provider_id long, category_id long,"
        " agg_type string, unix_ts long, datestamp string, value_double double",
    )
    rows = {r.bucket_ts: r for r in R.rollup_day(gold).collect()}
    assert rows[1704067200].sum_value == 5.0
    assert rows[1704067200].n_points == 2
    assert rows[1704153600].sum_value == 5.0
    assert rows[1704067200].id == "10|1704067200|100|1|1"


def test_latest_picks_newest_with_tiebreak(spark):
    gold = spark.createDataFrame(
        [
            (10, 100, 1, 1, "SUM", 100, 1, "2024-01-01", 1.0, None),
            (10, 100, 1, 1, "SUM", 200, 2, "2024-01-01", 2.0, None),
            (10, 100, 1, 1, "SUM", 200, 3, "2024-01-01", 3.0, None),
        ],
        "remote_id long, metric_id long, provider_id long, category_id long,"
        " agg_type string, unix_ts long, event_id long, datestamp string,"
        " value_double double, value_string string",
    )
    row = L.latest_metric(gold).collect()[0]
    assert (row.unix_ts, row.event_id, row.value_double) == (200, 3, 3.0)


def test_custom_metric_sum_combines_constituents(spark):
    gold = spark.createDataFrame(
        [
            (10, 100, 1, 1, "SUM", 500, "2024-01-01", 1.0, "click"),
            (10, 101, 1, 1, "SUM", 500, "2024-01-01", 2.0, "view"),
            (10, 104, 2, 3, "AVG", 500, "2024-01-01", 9.0, "error"),  # not mapped to SUM
        ],
        "remote_id long, metric_id long, provider_id long, category_id long,"
        " agg_type string, unix_ts long, datestamp string, value_double double, metric string",
    )
    out = CM.custom_metric_sum(gold, dm.custom_metric_mapping(spark)).collect()
    assert len(out) == 1
    assert out[0].metric_id == 200
    assert out[0].value_double == 3.0


def test_bronze_quarantine_routes_with_first_match_reason(spark):
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    import datetime

    rows = [
        # event_id, ts, user_id, event_type, value, props
        (1, datetime.datetime(2024, 1, 10), 1, "click", 5.0, '{"k": 1}'),      # ok
        (2, datetime.datetime(2024, 1, 10), 1, "click", 5.0, '{"nope": 1}'),   # bad_payload
        (3, datetime.datetime(2024, 1, 2), 1, "click", 5.0, '{"k": 1}'),       # stale_ts
        (4, datetime.datetime(2024, 1, 10), 1, "signup", 5.0, '{"k": 1}'),     # unmapped (provider 2)
        (5, datetime.datetime(2024, 1, 10), 1, "view", 9999.0, '{"k": 1}'),    # out_of_range
        # stale AND unmapped: first rule in ladder order wins
        (6, datetime.datetime(2024, 1, 2), 1, "error", -1.0, '{"nope": 1}'),   # bad_payload
        # NON-INTEGER k: must ROUTE (try_cast -> NULL -> bad_payload),
        # not crash the router under ANSI — the records the router
        # exists to screen
        (7, datetime.datetime(2024, 1, 10), 1, "click", 5.0, '{"k": 1.5}'),    # bad_payload
        (8, datetime.datetime(2024, 1, 10), 1, "click", 5.0, '{"k": "abc"}'),  # bad_payload
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.event_id: r for r in B.bronze_quarantine(events, dm.metric_mapping(spark)).collect()}
    assert out[1].route == "bronze" and out[1].reason == "ok"
    assert out[2].reason == "bad_payload"
    assert out[3].reason == "stale_ts"
    assert out[4].reason == "unmapped_metric"
    assert out[5].reason == "out_of_range"
    assert out[6].reason == "bad_payload"
    assert out[7].reason == "bad_payload"
    assert out[8].reason == "bad_payload"
    assert all(out[i].route == "quarantine" for i in (2, 3, 4, 5, 6, 7, 8))


def test_bronze_quarantine_screens_non_finite_values(spark):
    """NaN/±Inf readings must route to out_of_range — the router is the
    engine's documented screen for non-finite values (downstream stats
    assume finite inputs).  Spark SQL orders NaN ABOVE every value
    (`NaN > 450.0` is TRUE — unlike raw IEEE), and DuckDB uses the same
    total order, so both engines route identically; -Inf fails `<= 0`.
    This pin keeps that cross-engine agreement from regressing."""
    import datetime

    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B

    ts = datetime.datetime(2024, 1, 10)
    rows = [
        (1, ts, 1, "click", float("nan"), '{"k": 1}'),
        (2, ts, 1, "click", float("inf"), '{"k": 1}'),
        (3, ts, 1, "click", float("-inf"), '{"k": 1}'),
        (4, ts, 1, "click", 5.0, '{"k": 1}'),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r.event_id: r for r in B.bronze_quarantine(events, dm.metric_mapping(spark)).collect()}
    assert out[1].reason == "out_of_range" and out[1].route == "quarantine"
    assert out[2].reason == "out_of_range" and out[2].route == "quarantine"
    assert out[3].reason == "out_of_range" and out[3].route == "quarantine"
    assert out[4].reason == "ok" and out[4].route == "bronze"


def test_medallion_operators_survive_empty_feed(spark):
    """An empty micro-batch / filtered-to-empty backfill window must
    flow through the whole medallion graph and produce empty outputs."""
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.ingest import silver as S
    from telemetry_streaming_datalake_spark.operators import derived as DV
    from telemetry_streaming_datalake_spark.operators import detect as DT
    from telemetry_streaming_datalake_spark.operators import rollup as R
    from telemetry_streaming_datalake_spark.operators import temporal as T

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    cust = spark.createDataFrame(
        [(1, "c", 1, 0.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    bronze = B.parse_bronze(ev)
    silver = S.to_silver(B.dedup_exact(bronze), dm.metric_mapping(spark))
    gold = T.enrich_gold(silver, dm.remote_history(spark, cust))
    for df in [
        gold,
        R.rollup_hour(gold),
        R.incremental_rollup_hour(gold, 100),
        DT.stage_delay_report(bronze, silver, gold, dm.metric_mapping(spark)),
        DV.gapfill_hourly(B.dedup_exact(bronze)),
        B.bronze_quarantine(ev, dm.metric_mapping(spark)),
    ]:
        assert df.count() == 0


def test_table_profile_counts_nulls_and_distincts(spark):
    import datetime

    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.operators import detect as DT

    rows = [
        (1, datetime.datetime(2024, 1, 10), 1, "click", 5.0, '{"k": 1}'),
        (2, datetime.datetime(2024, 1, 10), 2, "click", 7.0, '{"k": 2}'),
        (3, datetime.datetime(2024, 1, 11), 1, "view", None, '{"k": 3}'),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    prof = {r.column_name: r for r in DT.table_profile(B.parse_bronze(events)).collect()}
    assert prof["serial"].n_rows == 3 and prof["serial"].n_distinct == 2
    assert prof["metric"].n_distinct == 2
    assert prof["value"].n_nulls == 1 and prof["value"].n_distinct == 2
    # native numeric order, stringified after
    assert prof["value"].min_str == "5.0" and prof["value"].max_str == "7.0"
    assert prof["datestamp"].min_str == "2024-01-10"


def test_grouping_sets_rollup_equals_three_single_grain_rollups(spark):
    """The one-pass GROUPING SETS rollup must reproduce each single-
    grain rollup row-for-row (modulo the grain-prefixed id)."""
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.ingest import silver as S
    from telemetry_streaming_datalake_spark.operators import rollup as R
    from telemetry_streaming_datalake_spark.operators import temporal as T
    from telemetry_streaming_datalake_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    silver = S.to_silver(
        B.dedup_exact(B.parse_bronze(load_table(spark, sf, "events"))),
        dm.metric_mapping(spark),
    )
    gold = T.enrich_gold(
        silver, dm.remote_history(spark, load_table(spark, sf, "customer"))
    ).cache()
    gs = R.rollup_grouping_sets(gold).cache()
    try:
        cmp_cols = [
            "remote_id", "metric_id", "provider_id", "category_id",
            "sum_value", "avg_value", "min_value", "max_value", "n_points",
        ]

        def canon(df, bucket_col):
            return sorted(
                (str(r[bucket_col]), *(r[c] for c in cmp_cols))
                for r in df.collect()
            )

        for grain, single, bucket_col in [
            ("HOUR", R.rollup_hour(gold), "bucket_ts"),
            ("DAY", R.rollup_day(gold), "bucket_ts"),
            ("MONTH", R.rollup_month(gold), "bucket_month"),
        ]:
            got = canon(gs.filter(gs["grain"] == grain), "bucket")
            want = canon(single, bucket_col)
            assert got == want, grain
        n = gs.count()
        assert n == gs.select("id").distinct().count()
    finally:
        gs.unpersist()
        gold.unpersist()


def test_rollup_restate_retraction_equals_recompute(spark):
    """Sum via retraction delta + min/max via touched-bucket recompute
    must equal the from-scratch rollup over corrected values —
    including a correction that LOWERS the bucket max (the
    non-invertible case the delta shortcut cannot see)."""
    import datetime

    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.operators import rollup as R

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 1), 1, "m", 10.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 0, 0, 2), 1, "m", 50.0, "{}"),  # old max
        (3, datetime.datetime(2024, 1, 2, 0, 0, 3), 1, "m", 7.0, "{}"),   # untouched day
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ded = B.dedup_exact(B.parse_bronze(spark.createDataFrame(rows, schema)))
    # correction LOWERS the max: 50 -> 5
    corr = spark.createDataFrame([(2, 5.0)], "event_id long, new_value double")
    out = {
        (r.metric, r.datestamp): r for r in R.rollup_restate(ded, corr).collect()
    }
    d1 = out[("m", "2024-01-01")]
    assert d1.sum_value == 15.0 and d1.min_value == 5.0 and d1.max_value == 10.0
    assert d1.n_points == 2
    d2 = out[("m", "2024-01-02")]
    assert d2.sum_value == 7.0 and d2.min_value == 7.0 and d2.max_value == 7.0

    # duplicate corrections for one event collapse (max new_value wins)
    # instead of double-applying the sum delta / fanning out the join
    dup_corr = spark.createDataFrame(
        [(2, 5.0), (2, 3.0)], "event_id long, new_value double"
    )
    dup_out = {
        (r.metric, r.datestamp): r
        for r in R.rollup_restate(ded, dup_corr).collect()
    }
    d1 = dup_out[("m", "2024-01-01")]
    assert d1.sum_value == 15.0 and d1.max_value == 10.0 and d1.n_points == 2


def test_png_container_roundtrip_and_crc_validation(spark):
    """The emitted PNG containers parse back exactly (per-doc geometry
    from md5 nibbles), every chunk CRC verifies, and a flipped byte in
    the IDAT body is CAUGHT by the CRC check."""
    import hashlib

    from telemetry_streaming_datalake_spark import session as S
    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "alpha doc"), (2, "some other text")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in MM.png_meta(docs).collect()}
    for doc_id, text in [(1, "alpha doc"), (2, "some other text")]:
        h = hashlib.md5(text.encode()).hexdigest()
        w, ht = int(h[0], 16) + 1, int(h[1], 16) + 1
        assert out[doc_id].width == w
        assert out[doc_id].height == ht
        assert out[doc_id].crc_ok and out[doc_id].n_chunks == 3
        # real zlib IDAT: hdr(2) + stored marker/LEN/NLEN(5) +
        # h*(3w+1) scanline bytes + Adler-32(4)
        assert out[doc_id].idat_bytes == ht * (3 * w + 1) + 11
        assert (out[doc_id].bit_depth, out[doc_id].color_type) == (8, 2)

    payload = bytearray(
        MM.attach_png_payload(docs.filter("doc_id = 1")).collect()[0].payload
    )
    meta = MM.parse_png(bytes(payload))
    assert meta["crc_ok"]
    # flip one IDAT body byte: structure still parses, CRC check fails
    idat_pos = bytes(payload).index(b"IDAT")
    payload[idat_pos + 10] ^= 0xFF
    assert not MM.parse_png(bytes(payload))["crc_ok"]


def test_avi_container_roundtrip_index_and_codec_seam(spark):
    """The emitted AVI containers parse back exactly (geometry/frames
    from md5 nibbles, fps from the timing literals), the idx1 index
    verifies entry-by-entry against the real '00db' chunk positions,
    a tampered index offset is CAUGHT, a tampered RIFF length is
    CAUGHT, and a compressed biCompression raises through the guarded
    codec seam."""
    import hashlib
    import struct

    from telemetry_streaming_datalake_spark import session as S
    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "alpha doc"), (2, "some other text")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in MM.video_meta(docs).collect()}
    for doc_id, text in [(1, "alpha doc"), (2, "some other text")]:
        h = hashlib.md5(text.encode()).hexdigest()
        w, ht, nf = int(h[0], 16) + 1, int(h[1], 16) + 1, int(h[2], 16) + 1
        r = out[doc_id]
        assert (r.width, r.height, r.n_frames) == (w, ht, nf)
        assert r.frame_bytes == w * ht * 3
        assert r.n_index_entries == nf
        assert r.index_ok and r.size_ok
        assert r.fps == round(1_000_000 / (1_000_000 // MM.VIDEO_FPS), 6)
        pad = r.frame_bytes % 2
        assert r.movi_bytes == 4 + nf * (8 + r.frame_bytes + pad)
        assert r.riff_bytes == 228 + r.movi_bytes + 16 * nf

    payload = bytes(
        MM.attach_avi_payload(docs.filter("doc_id = 1")).collect()[0].payload
    )
    assert MM.parse_avi(payload)["index_ok"]

    # tamper the first idx1 entry's offset field: index_ok must drop
    idx1_pos = payload.rindex(b"idx1")
    bad = bytearray(payload)
    # idx1(4) + size(4) + entry ckid(4) + flags(4) -> offset field
    bad[idx1_pos + 16] ^= 0xFF
    assert not MM.parse_avi(bytes(bad))["index_ok"]

    # tamper the RIFF length field: size_ok must drop
    bad = bytearray(payload)
    bad[4] ^= 0xFF
    assert not MM.parse_avi(bytes(bad))["size_ok"]

    # flip biCompression to a codec fourcc: the guarded seam raises
    strf_pos = payload.index(b"strf")
    bad = bytearray(payload)
    bad[strf_pos + 8 + 16 : strf_pos + 8 + 20] = struct.pack("<I", 0x44495643)
    with pytest.raises(NotImplementedError):
        MM.parse_avi(bytes(bad))

    # tamper the avih dwMicroSecPerFrame so it no longer equals the
    # integer truncation of the strh dwRate/dwScale timing: the
    # cross-header consistency check must drop index_ok
    avih_pos = payload.index(b"avih")
    bad = bytearray(payload)
    bad[avih_pos + 8 : avih_pos + 12] = struct.pack("<I", 123_456)
    parsed = MM.parse_avi(bytes(bad))
    assert not parsed["index_ok"]
    # fps_strh always materializes (None only when strh is absent)
    assert parsed["fps_strh"] == float(MM.VIDEO_FPS)


def test_dedup_keeps_lowest_event_id_across_partitions(spark):
    """Duplicates of one hash key scattered across MANY input
    partitions must still collapse to the single lowest-event_id row
    (the map-side partial combine merges per-task winners correctly)."""
    rows = [(i, f"k{i % 7}") for i in range(1, 201)]
    df = spark.createDataFrame(
        rows, ["event_id", "unique_hash_key"]
    ).repartition(16)
    kept = B.dedup_exact(df).orderBy("event_id").collect()
    assert [(r.event_id, r.unique_hash_key) for r in kept] == [
        (i, f"k{i % 7}") for i in range(1, 8)
    ]


def test_media_payload_fixture_roundtrip_bit_exact(spark):
    """The build-once media fixture table (VERDICT r11: price the
    operator, not the fixture factory) is a parquet roundtrip of the
    inline synthesizer — payload bytes bit-exact per doc, for both
    container kinds, and the cache serves the same dir on re-call."""
    from telemetry_streaming_datalake_spark import session as S
    from telemetry_streaming_datalake_spark.operators import multimodal as MM
    from telemetry_streaming_datalake_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    for kind, attach in (
        ("png", MM.attach_png_payload),
        ("avi", MM.attach_avi_payload),
    ):
        fix = {
            r.doc_id: bytes(r.payload)
            for r in MM.media_payload_fixture(spark, sf, kind).collect()
        }
        live = {r.doc_id: bytes(r.payload) for r in attach(docs).collect()}
        assert fix == live, kind
    # cache hit: same corpus -> same dir object (no rebuild)
    a = MM.media_payload_fixture(spark, sf, "png")
    b = MM.media_payload_fixture(spark, sf, "png")
    assert a.inputFiles() == b.inputFiles()


def test_media_payload_fixture_build_never_writes_caller_conf(spark, monkeypatch):
    """A cold fixture build turns whole-stage codegen off on a session
    of its own: the caller's session conf is never written (neither
    the WSCG switch nor load_table's required confs), so a concurrent
    query on the caller's session never runs with WSCG off."""
    from pyspark.sql.conf import RuntimeConfig

    from telemetry_streaming_datalake_spark import session as S
    from telemetry_streaming_datalake_spark.operators import multimodal as MM
    from tests.conftest import SF_DIR

    writes = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        if self is spark.conf:
            writes.append(key)
        return real_set(self, key, value)

    def spy_unset(self, key):
        if self is spark.conf:
            writes.append(key)
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    monkeypatch.setattr(S, "_SCRATCH_BUILT", {})
    assert MM.media_payload_fixture(spark, SF_DIR, "png").count() > 0
    assert len(S._SCRATCH_BUILT) == 1  # a cold build ran
    assert writes == []
