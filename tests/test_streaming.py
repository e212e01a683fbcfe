"""Structured Streaming tests: watermarked dedup ingest, upsert sink."""

import os

import pytest
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.ingest import bronze as B
from telemetry_streaming_datalake_spark.operators import retention as RT
from telemetry_streaming_datalake_spark.streaming import pipeline as SP
from telemetry_streaming_datalake_spark.streaming import sinks as SK
from telemetry_streaming_datalake_spark.streaming.sinks import ParquetUpsertStore

from tests.conftest import SF_DIR


def test_streaming_bronze_matches_batch(spark, events, tmp_path):
    out = SP.streaming_silver_dedup(spark, SF_DIR, str(tmp_path))
    batch = B.dedup_exact(B.parse_bronze(events))
    assert out.count() == batch.count()
    s = {tuple(r) for r in out.select("event_id", "unique_hash_key").collect()}
    b = {tuple(r) for r in batch.select("event_id", "unique_hash_key").collect()}
    assert s == b


def test_streaming_sink_partitions_by_datestamp(spark, tmp_path):
    work = str(tmp_path / "w")
    SP.streaming_silver_dedup(spark, SF_DIR, work)
    parts = [p for p in os.listdir(os.path.join(work, "bronze_out")) if p.startswith("datestamp=")]
    assert len(parts) > 1  # date-partitioned layout, like the reference


def test_upsert_store_item_overwrite(spark, tmp_path):
    store = ParquetUpsertStore(spark, str(tmp_path / "store"), key="id")
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    b1 = spark.createDataFrame([("b", 20), ("c", 3)], "id string, v int")
    store.apply_batch(b0, 0)
    store.apply_batch(b1, 1)
    final = {r.id: r.v for r in store.read().collect()}
    assert final == {"a": 1, "b": 20, "c": 3}


def _partition_files(root: str, part: str) -> dict[str, tuple[int, int]]:
    d = os.path.join(root, part)
    return {
        f: (os.path.getsize(os.path.join(d, f)), os.stat(os.path.join(d, f)).st_mtime_ns)
        for f in sorted(os.listdir(d))
        if not f.startswith(".") and not f.startswith("_")
    }


def test_upsert_store_rewrites_only_touched_partitions(spark, tmp_path):
    """A micro-batch touching only datestamp=d2 must leave the
    datestamp=d1 partition files byte-for-byte untouched on disk —
    the O(batch)-not-O(store) MERGE contract."""
    path = str(tmp_path / "store")
    store = ParquetUpsertStore(spark, path, key="id", partition_col="datestamp")
    schema = "id string, datestamp string, v int"
    b0 = spark.createDataFrame(
        [("a", "2024-01-01", 1), ("b", "2024-01-02", 2)], schema
    )
    store.apply_batch(b0, 0)
    before = _partition_files(store.current_data_dir(), "datestamp=2024-01-01")
    assert before  # d1 exists
    b1 = spark.createDataFrame(
        [("b", "2024-01-02", 20), ("c", "2024-01-02", 3)], schema
    )
    store.apply_batch(b1, 1)
    # hardlink carry: the new version's untouched partition shares the
    # previous version's inodes — same names, bytes, and mtimes
    after = _partition_files(store.current_data_dir(), "datestamp=2024-01-01")
    assert after == before  # same files, sizes, and mtimes
    final = {r.id: r.v for r in store.read().collect()}
    assert final == {"a": 1, "b": 20, "c": 3}


def test_upsert_store_escaped_partition_values(spark, tmp_path):
    """Partition values Spark URL-escapes in directory names (space,
    colon) must still be recognized as TOUCHED: the untouched-carry is
    decided by dir-name set difference against the merged write, not a
    raw-value string compare, so a touched escaped partition never has
    its stale files hardlinked back in (duplicate/stale rows)."""
    path = str(tmp_path / "store")
    store = ParquetUpsertStore(spark, path, key="id", partition_col="datestamp")
    schema = "id string, datestamp string, v int"
    weird = "2024-01-02 10:00"  # space + colon -> escaped dir name
    b0 = spark.createDataFrame(
        [("a", "2024-01-01", 1), ("b", weird, 2)], schema
    )
    store.apply_batch(b0, 0)
    b1 = spark.createDataFrame([("b", weird, 20), ("c", weird, 3)], schema)
    store.apply_batch(b1, 1)
    rows = [(r.id, r.datestamp, r.v) for r in store.read().collect()]
    assert sorted(rows) == [
        ("a", "2024-01-01", 1),
        ("b", weird, 20),
        ("c", weird, 3),
    ]
    # the untouched plain partition was still carried by hardlink
    assert os.path.isdir(
        os.path.join(store.current_data_dir(), "datestamp=2024-01-01")
    )


def test_purge_and_compact_rewrite(spark, events, tmp_path):
    bronze = B.parse_bronze(events)
    path = str(tmp_path / "lake")
    RT.purge_rewrite(bronze, "2024-01-15", path)
    kept = spark.read.parquet(path)
    assert kept.filter(F.col("datestamp") < "2024-01-15").count() == 0
    kept_count = kept.count()
    assert kept_count == bronze.filter(F.col("datestamp") >= "2024-01-15").count()
    RT.compact(spark, path)
    assert spark.read.parquet(path).count() == kept_count


def test_streaming_upsert_rollup_matches_batch_agg(spark, tmp_path):
    """One availableNow drain of the complete-mode hour rollup through
    the foreachBatch upsert store equals the batch aggregate."""
    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.ingest.bronze import parse_bronze
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_upsert_rollup,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_upsert_rollup(spark, sf, str(tmp_path))
    bronze = parse_bronze(load_table(spark, sf, "events"))
    want = bronze.groupBy("metric", "datestamp", "hourstamp").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    assert got.count() == want.count()
    diff = got.select("id", "n_events").exceptAll(
        want.select(
            F.concat_ws("|", "metric", "datestamp", "hourstamp").alias("id"), "n_events"
        )
    )
    assert diff.count() == 0


def test_streaming_feed_b_matches_batch(spark, tmp_path):
    """Provider-B JSON documents consumed as a text-file stream (Kafka
    value analog) must parse to exactly the batch bronze_feed_b rows."""
    from telemetry_streaming_datalake_spark.ingest.feeds import bronze_feed_b
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_bronze_feed_b,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_bronze_feed_b(spark, sf, str(tmp_path)).cache()
    want = bronze_feed_b(load_table(spark, sf, "events")).cache()
    assert got.count() == want.count()
    assert got.select(*want.columns).exceptAll(want).count() == 0


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """SURVEY row 25c's streaming half: session_window as the stateful
    streaming session operator must produce exactly the batch
    sessions."""
    from telemetry_streaming_datalake_spark.operators.sessions import sessionize
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_sessionize,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_sessionize(spark, sf, str(tmp_path)).cache()
    want = sessionize(load_table(spark, sf, "events")).cache()
    assert got.count() == want.count()
    assert got.select(*want.columns).exceptAll(want).count() == 0


def test_multimodal_resize_real_nearest_neighbor(spark):
    """resize_image is a real decode -> nearest-neighbor -> re-encode:
    downsampling a 2x2 to 1x1 keeps the top-left pixel."""
    from telemetry_streaming_datalake_spark.operators.multimodal import (
        decode_image,
        resize_image,
    )

    src = b"P6\n2 2\n255\n" + bytes(range(12))
    thumb = resize_image(src, 1, 1)
    img = decode_image(thumb)
    assert img.shape == (1, 1, 3)
    assert bytes(img.reshape(-1)) == bytes((0, 1, 2))  # top-left RGB


def test_stateful_latest_carries_state_across_batches(spark, tmp_path):
    """Split the feed into two files and drain with one file per
    micro-batch: applyInPandasWithState must merge batch-2 rows into
    batch-1 state, and each key's final emission must equal the batch
    aggregate over the whole feed."""
    import os

    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.ingest.bronze import parse_bronze
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_stateful_latest,
    )

    sf = "/root/testdata/sf0.001"
    raw = spark.read.parquet(os.path.join(sf, "events.parquet"))
    cut = raw.approxQuantile("event_id", [0.5], 0.0)[0]
    landing = tmp_path / "landing"
    landing.mkdir()
    # two disjoint halves, one flat parquet file each in the landing
    # dir (state for a serial present in both halves must merge across
    # the two micro-batches)
    import glob
    import shutil

    for i, half in enumerate(
        [raw.filter(F.col("event_id") <= cut), raw.filter(F.col("event_id") > cut)]
    ):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_stateful_latest(
        spark, sf, str(tmp_path), max_files_per_trigger=1
    ).cache()

    bronze = parse_bronze(load_table(spark, sf, "events"))
    want = (
        bronze.groupBy("serial", "metric")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max(F.struct("unix_ts", "event_id", "value")).alias("s"),
        )
        .select(
            "serial", "metric", "n_events", "sum_value",
            F.col("s.unix_ts").alias("last_ts"),
            F.col("s.value").alias("last_value"),
        )
    ).cache()
    assert got.count() == want.count()
    # emissions prove multi-batch execution: some key must have emitted twice
    emissions = spark.read.parquet(str(tmp_path / "latest_state_out"))
    assert emissions.count() > got.count()
    diff = got.exceptAll(want)
    assert diff.count() == 0


def test_stateful_latest_runs_under_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state-store provider, EXECUTED: the session is
    switched to RocksDBStateStoreProvider, the ``applyInPandasWithState``
    twin drains a state-carrying query under it and matches the batch
    aggregate, and the checkpoint's state dir carries RocksDB's
    snapshot layout (``.zip``/``.changelog`` files) — proving the
    provider engaged rather than silently falling back to the
    HDFS-backed default."""
    import glob
    import os

    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.ingest.bronze import parse_bronze
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_stateful_latest,
    )

    sf = "/root/testdata/sf0.001"
    key = "spark.sql.streaming.stateStore.providerClass"
    # restore the provider — leaking it into the shared session is the
    # SURVEY §5 order-dependence class
    prev = spark.conf.get(key, None)
    got = want = None
    try:
        spark.conf.set(
            key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )
        got = streaming_stateful_latest(spark, sf, str(tmp_path)).cache()
        bronze = parse_bronze(load_table(spark, sf, "events"))
        want = (
            bronze.groupBy("serial", "metric")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 6).alias("sum_value"),
                F.max(F.struct("unix_ts", "event_id", "value")).alias("s"),
            )
            .select(
                "serial", "metric", "n_events", "sum_value",
                F.col("s.unix_ts").alias("last_ts"),
                F.col("s.value").alias("last_value"),
            )
        ).cache()
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        state_files = glob.glob(
            os.path.join(str(tmp_path), "latest_state_ckpt", "state", "**"),
            recursive=True,
        )
        assert any(
            f.endswith(".zip") or f.endswith(".changelog") for f in state_files
        ), state_files[:20]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
        for df in (got, want):
            if df is not None:
                df.unpersist()


def test_three_hop_streaming_gold_matches_batch(spark, tmp_path):
    """feed → bronze → silver → gold, all hops streaming; the silver hop
    consumes the bronze lake directory as a stream source (Delta-as-
    stream analog) and the silver lake it leaves must equal the batch
    silver; the drained gold lake must equal the batch gold_enrich
    output (the SCD2 join runs stream-static with the history dim
    broadcast)."""
    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.ingest.silver import to_silver
    from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_gold_three_hop,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_gold_three_hop(spark, sf, str(tmp_path)).cache()
    silver = to_silver(
        B.dedup_exact(B.parse_bronze(load_table(spark, sf, "events"))),
        dm.metric_mapping(spark),
    ).cache()
    silver_lake = spark.read.parquet(str(tmp_path / "silver_lake")).withColumn(
        "datestamp", F.col("datestamp").cast("string")
    )
    assert silver_lake.count() == silver.count()
    assert silver_lake.exceptAll(silver.select(*silver_lake.columns)).count() == 0
    want = enrich_gold(
        silver, dm.remote_history(spark, load_table(spark, sf, "customer"))
    ).cache()
    assert got.count() == want.count()
    assert got.exceptAll(want.select(*got.columns)).count() == 0


def test_rate_state_fn_group_spanning_chunks():
    """applyInPandasWithState delivers a group's rows across multiple
    Arrow chunks in arbitrary order — the rate function must see the
    whole group sorted, not sort/dedup each chunk independently (an
    out-of-order reading in a later chunk would be silently dropped)."""
    import pandas as pd

    class FakeState:
        exists = False
        get = None

        def update(self, v):
            self.stored = v

    def run(chunks):
        state = FakeState()
        frames = list(
            SP._rate_state_fn(("s1", "m1"), iter(chunks), state)
        )
        return pd.concat(frames, ignore_index=True), state.stored

    cols = ["unix_ts", "event_id", "value"]
    # chunk 2 holds a reading EARLIER than chunk 1's — shuffle order
    chunk1 = pd.DataFrame([[100, 1, 10.0], [300, 3, 30.0]], columns=cols)
    chunk2 = pd.DataFrame([[200, 2, 20.0]], columns=cols)
    out, stored = run([chunk1, chunk2])
    want, want_state = run(
        [pd.DataFrame([[100, 1, 10.0], [200, 2, 20.0], [300, 3, 30.0]], columns=cols)]
    )
    assert out.values.tolist() == want.values.tolist()
    assert stored == want_state
    assert list(out["unix_ts"]) == [200, 300]  # both rates emitted
    assert list(out["delta_secs"]) == [100, 100]


def test_streaming_counter_rate_carries_state_across_batches(spark, tmp_path):
    """Time-split the feed into two files drained one per micro-batch:
    the rate of the first batch-2 reading must be computed against the
    LAST batch-1 reading (state carry), and the union of emissions must
    equal the batch counter_rate exactly."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.derived import counter_rate
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_counter_rate,
    )

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    # split by TIME so batch 2 is strictly later than batch 1 for every
    # series (the operator's documented in-order contract)
    ts_cut = raw.select(F.unix_timestamp("ts").alias("u")).approxQuantile("u", [0.5], 0.0)[0]
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.unix_timestamp("ts") <= ts_cut),
        raw.filter(F.unix_timestamp("ts") > ts_cut),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_counter_rate(spark, sf, str(tmp_path), max_files_per_trigger=1)
    want = counter_rate(dedup_exact(parse_bronze(raw)))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_quarantine_split_matches_batch_router(spark, tmp_path):
    import os

    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming import pipeline as SP

    sf = "/root/testdata/sf0.001"
    out = SP.streaming_quarantine_split(spark, sf, str(tmp_path))
    batch = B.bronze_quarantine(load_table(spark, sf, "events"), dm.metric_mapping(spark))
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0 and batch.exceptAll(out).count() == 0
    # the dead-letter sink is reason-partitioned (replayable by cause)
    # inside each batchId-scoped commit directory
    dlq = os.path.join(str(tmp_path), "dead_letter")
    reasons = {
        d.split("=", 1)[1]
        for b in os.listdir(dlq)
        if b.startswith("batch=")
        for d in os.listdir(os.path.join(dlq, b))
        if d.startswith("reason_dir=")
    }
    assert reasons and reasons <= {"bad_payload", "stale_ts", "unmapped_metric", "out_of_range"}


def _drained_rows(drain_fn):
    return lambda spark, root: sorted(map(tuple, drain_fn(spark, SF_DIR, root).collect()))


def _latest_emissions(spark, root):
    # the emission lake itself, not the max-per-key read-back (which
    # hides a duplicated emission)
    SP.streaming_stateful_latest(spark, SF_DIR, root)
    lake = os.path.join(root, "latest_state_out")
    return spark.read.option("recursiveFileLookup", "true").parquet(lake).count()


@pytest.mark.parametrize(
    "run, ckpt",
    [
        (_drained_rows(SP.streaming_quarantine_split), "quarantine_ckpt"),
        (_drained_rows(SP.streaming_corpus_gate), "gate_ckpt"),
        (_latest_emissions, "latest_state_ckpt"),
    ],
    ids=["quarantine_split", "corpus_gate", "stateful_latest"],
)
def test_streaming_quarantine_split_replay_is_idempotent(spark, tmp_path, run, ckpt):
    """Checkpoint replay must not double-append: re-draining the same
    feed into the same sinks with a WIPED checkpoint re-delivers every
    batch under the same ids, and the batch-id lands must leave the
    result unchanged (an append sink doubles every row here)."""
    import shutil

    first = run(spark, str(tmp_path))
    shutil.rmtree(os.path.join(str(tmp_path), ckpt))
    assert run(spark, str(tmp_path)) == first


def test_streaming_grouping_sets_matches_batch(spark, tmp_path):
    """Single-drain equality: the incrementally-maintained multi-grain
    store equals the batch GROUPING SETS rollup row-for-row."""
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest.bronze import dedup_exact, parse_bronze
    from telemetry_streaming_datalake_spark.ingest.silver import to_silver
    from telemetry_streaming_datalake_spark.operators.rollup import rollup_grouping_sets
    from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_grouping_sets,
    )

    sf = "/root/testdata/sf0.001"
    got = streaming_grouping_sets(spark, sf, str(tmp_path))
    gold = enrich_gold(
        to_silver(
            dedup_exact(parse_bronze(load_table(spark, sf, "events"))),
            dm.metric_mapping(spark),
        ),
        dm.remote_history(spark, load_table(spark, sf, "customer")),
    )
    want = rollup_grouping_sets(gold)
    g = sorted(tuple(r) for r in got.select(*want.columns).collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_grouping_sets_merges_across_batches(spark, tmp_path):
    """Two micro-batches split mid-hour: boundary buckets receive
    partials from BOTH batches and the additive merge must still equal
    the from-scratch batch rollup (associativity of the partials)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest.bronze import dedup_exact, parse_bronze
    from telemetry_streaming_datalake_spark.ingest.silver import to_silver
    from telemetry_streaming_datalake_spark.operators.rollup import rollup_grouping_sets
    from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_grouping_sets,
    )

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    ts_cut = raw.select(F.unix_timestamp("ts").alias("u")).approxQuantile(
        "u", [0.5], 0.0
    )[0]
    # mid-hour split: NOT on an hour boundary, so hour/day/month buckets
    # straddle the two batches
    ts_cut += 1800 - (int(ts_cut) % 3600 or 1800) % 1800
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.unix_timestamp("ts") <= ts_cut),
        raw.filter(F.unix_timestamp("ts") > ts_cut),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_grouping_sets(spark, sf, str(tmp_path), max_files_per_trigger=1)
    gold = enrich_gold(
        to_silver(
            dedup_exact(parse_bronze(raw)), dm.metric_mapping(spark)
        ),
        dm.remote_history(spark, load_table(spark, sf, "customer")),
    )
    want = rollup_grouping_sets(gold)
    g = sorted(tuple(r) for r in got.select(*want.columns).collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_grouping_sets_replay_skips_applied_batches(spark, tmp_path):
    """sum/count partials are additive, not idempotent: a replayed
    batch id must be SKIPPED by the store's applied-batch ledger, not
    re-merged (the pre-r9 form double-counted every partial here).
    Wiping the checkpoint re-delivers all batches under their original
    ids; the drained store must be byte-identical to the first run."""
    import os
    import shutil

    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_grouping_sets,
    )

    sf = "/root/testdata/sf0.001"
    first = streaming_grouping_sets(spark, sf, str(tmp_path)).collect()
    shutil.rmtree(os.path.join(str(tmp_path), "gs_ckpt"))
    replayed = streaming_grouping_sets(spark, sf, str(tmp_path)).collect()
    assert sorted(map(tuple, replayed)) == sorted(map(tuple, first))


def test_watermark_late_within_horizon_merges(spark, tmp_path):
    """Append-mode watermarked tumbling agg over two micro-batches: a
    batch-2 event that is late but INSIDE the watermark horizon must
    merge into its window (the contractual guarantee — no data loss
    within the horizon; dropping beyond it is permitted but not
    required by the engine, so only the guaranteed side is pinned)."""
    import datetime
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(i, hours):
        return (i, base + datetime.timedelta(hours=hours), 1, "click", 1.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # batch 1: h=9.2 and h=10 → watermark after batch 1 = 9h
    # batch 2: h=9.5 (late vs batch-1 max, inside the 1 h horizon) must
    # merge with 9.2 into the [9,10) window; h=20 closes every window
    batches = [[ev(1, 9.2), ev(2, 10)], [ev(3, 9.5), ev(4, 20)]]
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, rows in enumerate(batches):
        out = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(out)
        part = glob.glob(os.path.join(out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    stream = (
        spark.readStream.schema(spark.read.parquet(str(landing)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = str(tmp_path / "sink")
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {r.window.start.hour: r.n for r in spark.read.parquet(sink).collect()}
    assert got[9] == 2   # 9.2 (batch 1) + 9.5 (batch 2) merged
    assert got[10] == 1


def test_stream_state_parts_sizing_rule(tmp_path, monkeypatch):
    """Input bytes -> state partitions: ceil(bytes / target), capped at
    defaultParallelism, floored at 1; metadata files and missing paths
    count nothing; SPARK_GRAFT_STREAM_PARTS pins it (floored at 1)."""
    from types import SimpleNamespace

    fake = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    monkeypatch.setattr(SP, "STREAM_STATE_TARGET_BYTES", 100)
    d = tmp_path / "lake"
    d.mkdir()
    assert SP._stream_state_parts(fake, str(d), str(tmp_path / "missing")) == 1
    (d / "a.parquet").write_bytes(b"x" * 150)
    (d / "_SUCCESS").write_bytes(b"x" * 1000)
    (d / ".a.parquet.crc").write_bytes(b"x" * 1000)
    assert SP._stream_state_parts(fake, str(d)) == 2
    (d / "b.parquet").write_bytes(b"x" * 51)
    assert SP._stream_state_parts(fake, str(d)) == 3  # 201 bytes
    assert SP._stream_state_parts(fake, str(d), str(d / "a.parquet")) == 4
    (d / "c.parquet").write_bytes(b"x" * 1000)
    assert SP._stream_state_parts(fake, str(d)) == 4  # capped
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "7")
    assert SP._stream_state_parts(fake, str(d)) == 7  # pin beats the cap
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "0")
    assert SP._stream_state_parts(fake, str(d)) == 1


def test_drain_scopes_state_parts_to_start(spark, tmp_path, monkeypatch):
    """drain(..., state_src=...) runs the query's state operator at the
    input-sized count, yet the session conf keeps its own value inside
    foreach_batch and after the call; a drain with no state_src never
    sets the conf at all."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.shuffle.partitions"
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    landing = str(tmp_path / "landing")
    spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (2, "a", "2024-01-01 00:00:01"),
         (3, "b", "2024-01-01 00:00:02")],
        "id long, k string, ts string",
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.parquet(landing)
    schema = spark.read.parquet(landing).schema

    def dedup_stream():
        return (
            spark.readStream.schema(schema).parquet(landing)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["k"])
        )

    sets = []
    real_set = RuntimeConfig.set

    def spy(self, k, v):
        sets.append(k)
        real_set(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    before = spark.conf.get(key)
    want = SP._stream_state_parts(spark, landing)
    real_set(spark.conf, key, str(want + 2))  # a session value != the scaled one
    try:
        seen, rows = [], []

        def body(batch_df, _id):
            seen.append(spark.conf.get(key))
            rows.extend(batch_df.collect())

        q = SP.drain(
            dedup_stream(), str(tmp_path / "ckpt_a"), foreach_batch=body,
            state_src=(landing,),
        )
        parts = [
            p["stateOperators"][0]["numShufflePartitions"]
            for p in q.recentProgress
            if p["stateOperators"]
        ]
        assert parts and set(parts) == {want}
        assert seen and set(seen) == {str(want + 2)}
        assert spark.conf.get(key) == str(want + 2)
        assert sorted(r.k for r in rows) == ["a", "b"]

        sets.clear()
        seen.clear()
        q = SP.drain(dedup_stream(), str(tmp_path / "ckpt_b"), foreach_batch=body)
        assert key not in sets
        assert set(seen) == {str(want + 2)}
        assert {
            p["stateOperators"][0]["numShufflePartitions"]
            for p in q.recentProgress
            if p["stateOperators"]
        } == {want + 2}
    finally:
        real_set(spark.conf, key, before)


def test_cusum_state_fn_rejects_non_finite():
    """NaN and ±inf values raise in the CUSUM state function instead of
    turning into garbage integer drift state; finite rows emit."""
    import numpy as np
    import pandas as pd
    import pytest

    class FakeState:
        exists = False
        get = None

        def update(self, v):
            self.stored = v

    fn = SP._cusum_state_fn_factory({"m": (1.0, 0.5)})
    cols = ["unix_ts", "event_id", "value"]
    ok = pd.DataFrame([[1, 1, 0.5], [2, 2, 1.5]], columns=cols)
    assert len(pd.concat(fn(("s", "m"), iter([ok]), FakeState()))) == 2
    for bad in (np.nan, np.inf, -np.inf):
        chunk = pd.DataFrame([[1, 1, 1.0], [2, 2, bad]], columns=cols)
        with pytest.raises((ValueError, ArithmeticError)):
            list(fn(("s", "m"), iter([chunk]), FakeState()))


def test_runner_feed_publishes_atomically(tmp_path, monkeypatch):
    """feed() copies only to names the file source skips, then renames
    into place: a running query never lists a half-copied drop, and no
    temp name is left behind (single file and part-file directory)."""
    import shutil

    from telemetry_streaming_datalake_spark.streaming import runner as RN

    copied_to = []
    real_copy = shutil.copy

    def spy_copy(src, dst):
        copied_to.append(os.path.basename(dst))
        return real_copy(src, dst)

    monkeypatch.setattr(shutil, "copy", spy_copy)
    r = RN.AlwaysOnRunner(None, SF_DIR, str(tmp_path))
    os.makedirs(r.landing_dir)
    r.feed(os.path.join(SF_DIR, "events.parquet"), "one.parquet")
    part_dir = tmp_path / "table"
    part_dir.mkdir()
    for f in ("part-0.parquet", "part-1.parquet", "_SUCCESS", ".part-0.parquet.crc"):
        (part_dir / f).write_bytes(b"PAR1")
    r.feed(str(part_dir), "two.parquet")
    assert len(copied_to) == 3
    assert all(n.startswith(("_", ".")) for n in copied_to)
    landed = os.listdir(r.landing_dir)
    assert len(landed) == 3 and "one.parquet" in landed
    assert not any(n.startswith(("_", ".")) for n in landed)


def test_always_on_runner_three_concurrent_queries(spark, tmp_path):
    """VERDICT r5 item 6: ≥3 concurrent named ProcessingTime queries,
    files fed while running, progress observed on every hop, clean
    stop.  The drained gold lake must carry the batch row count."""
    import os

    from telemetry_streaming_datalake_spark.streaming import runner as RN

    sf = "/root/testdata/sf0.001"
    work = str(tmp_path)
    r = RN.AlwaysOnRunner(spark, sf, work, trigger_interval="500 milliseconds")
    try:
        qs = r.start()
        assert set(qs) == {
            RN.BRONZE_QUERY, RN.SILVER_QUERY, RN.GOLD_QUERY, RN.SERVING_QUERY,
        }
        assert all(q.isActive for q in qs.values())
        # feed the topic while the queries run
        r.feed(os.path.join(sf, "events.parquet"))
        # batch twins give the expected landed row counts
        import __spark_entry__ as E

        queries = E.queries()
        want_gold = queries["gold_enrich"](spark, sf).count()
        got = r.await_rows(r.gold_dir, want_gold, timeout_s=180)
        assert got == want_gold
        # hop 4: the serving store converges to one row per latest key
        # (latest_metric's registry key retired r13 — build direct)
        from telemetry_streaming_datalake_spark.operators import latest as L

        want_latest = L.latest_metric(
            queries["gold_enrich"](spark, sf)
        ).count()
        got_latest = r.await_store_rows(want_latest, timeout_s=120)
        assert got_latest == want_latest
        st = {s["name"]: s for s in r.status()}
        assert set(st) == {
            RN.BRONZE_QUERY, RN.SILVER_QUERY, RN.GOLD_QUERY, RN.SERVING_QUERY,
        }
        for s in st.values():
            assert s["is_active"]
            assert s["batches_seen"] is not None  # progress observed
    finally:
        r.stop()
    assert not any(
        q.name
        in (RN.BRONZE_QUERY, RN.SILVER_QUERY, RN.GOLD_QUERY, RN.SERVING_QUERY)
        for q in spark.streams.active
    )


def test_serving_store_interface_replay_idempotency(spark, tmp_path):
    """VERDICT r5 item 9: the extracted writer contract — a replayed
    batch_id (post-recovery re-delivery) leaves any conforming store
    unchanged.  Proven on the fake KV client AND the parquet store."""
    from telemetry_streaming_datalake_spark.streaming import sinks as SK

    batch0 = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "id string, v double"
    )
    batch1 = spark.createDataFrame(
        [("b", 9.0), ("c", 3.0)], "id string, v double"
    )
    kv = SK.InMemoryKVServingStore()
    kv.apply_batch(batch0, 0)
    kv.apply_batch(batch1, 1)
    after = dict(kv.data)
    assert after["b"]["v"] == 9.0  # ItemOverwrite: newest batch wins
    kv.apply_batch(batch0, 0)  # replay after recovery
    assert kv.data == after
    assert kv.apply_calls == 3

    pq = SK.ParquetUpsertStore(spark, str(tmp_path / "store"), key="id")
    pq.apply_batch(batch0, 0)
    pq.apply_batch(batch1, 1)
    want = sorted((r.id, r.v) for r in pq.read().collect())
    pq.apply_batch(batch1, 1)  # replay
    assert sorted((r.id, r.v) for r in pq.read().collect()) == want
    assert dict(want)["b"] == 9.0


def test_always_on_runner_restart_recovery_exactly_once(spark, monkeypatch, tmp_path):
    """Checkpoint recovery: stop the topology, start a NEW runner on
    the same work dir, re-feed the SAME records — the restored
    watermark-dedup state must drop every duplicate, leaving bronze
    exactly-once.  This is the recovery contract the reference's
    checkpointLocation exists for."""
    import os
    import time

    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming import runner as RN

    sf = "/root/testdata/sf0.001"
    work = str(tmp_path)
    want = B.dedup_exact(B.parse_bronze(load_table(spark, sf, "events"))).count()

    def first_read_state_parts(runner):
        """Wait for the bronze hop's first batch that read rows to
        finish; return its state partition count."""
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline:
            prog = runner.queries[RN.BRONZE_QUERY].recentProgress
            read = [p for p in prog if p["numInputRows"] > 0]
            if read:
                return read[0]["stateOperators"][0]["numShufflePartitions"]
            time.sleep(0.5)
        raise AssertionError("the bronze hop read no rows within 60 s")

    conf = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTS", raising=False)
    r1 = RN.AlwaysOnRunner(spark, sf, work, trigger_interval="500 milliseconds")
    try:
        r1.start()
        # the bronze state count came from the empty landing dir, and
        # only the bronze start() saw it
        assert spark.conf.get("spark.sql.shuffle.partitions") == conf
        r1.feed(os.path.join(sf, "events.parquet"), "drop_a.parquet")
        got1 = r1.await_rows(r1.bronze_dir, want, timeout_s=120)
        assert got1 == want
        assert first_read_state_parts(r1) == 1
    finally:
        r1.stop()

    # a pin set after the first start cannot re-shard checkpointed state
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTS", "3")
    r2 = RN.AlwaysOnRunner(spark, sf, work, trigger_interval="500 milliseconds")
    try:
        r2.start()
        # the same records again, as a "replayed" producer file
        r2.feed(os.path.join(sf, "events.parquet"), "drop_b.parquet")
        assert first_read_state_parts(r2) == 1
        # every replayed row deduped against the RESTORED state
        assert spark.read.parquet(r2.bronze_dir).count() == want
    finally:
        r2.stop()


def test_corpus_gate_batch_replay_is_idempotent(spark, tmp_path):
    """A re-delivered micro-batch (checkpoint restart after a partial
    commit) must not double-append: gate_and_land_batch writes each
    batch to its own batchId-scoped directory in overwrite mode
    (ADVICE r6)."""
    keep_dir = str(tmp_path / "keep")
    rej_dir = str(tmp_path / "rej")
    docs = spark.createDataFrame(
        [
            (1, "web", "the quick brown fox jumps over the lazy dog and then some more of it"),
            (2, "web", "zz zz zz"),
        ],
        "doc_id long, source string, text string",
    )
    SP.gate_and_land_batch(docs, keep_dir, rej_dir, 0)
    # replay of batch 0, then a genuinely new batch 1
    SP.gate_and_land_batch(docs, keep_dir, rej_dir, 0)
    SP.gate_and_land_batch(docs.filter(F.col("doc_id") == 1), keep_dir, rej_dir, 1)
    total = (
        spark.read.option("recursiveFileLookup", "true").parquet(keep_dir).count()
        + spark.read.option("recursiveFileLookup", "true").parquet(rej_dir).count()
    )
    assert total == 3  # 2 from batch 0 (once), 1 from batch 1


def test_streaming_ewma_carries_tail_across_batches(spark, tmp_path):
    """Time-split the feed into two files drained one per micro-batch:
    batch-2 smoothing must weight the trailing batch-1 readings (tail
    state carry), and the union of emissions must equal the batch
    finite-horizon ewma_smooth EXACTLY — same weights, same FP order,
    same HALF_UP rounding."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.derived import ewma_smooth
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import streaming_ewma

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    ts_cut = raw.select(F.unix_timestamp("ts").alias("u")).approxQuantile("u", [0.5], 0.0)[0]
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.unix_timestamp("ts") <= ts_cut),
        raw.filter(F.unix_timestamp("ts") > ts_cut),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_ewma(spark, sf, str(tmp_path), max_files_per_trigger=1)
    want = ewma_smooth(dedup_exact(parse_bronze(raw)))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_ohlc_merges_window_partials_across_batches(spark, tmp_path):
    """Split the feed by alternating event_id so every hour window
    receives rows in BOTH micro-batches: the merged min_by/max_by
    partials must still pick the chronologically first/last reading of
    the window — equal to the batch downsample exactly."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.derived import downsample_ohlc
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import streaming_ohlc

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.col("event_id") % 2 == 0),
        raw.filter(F.col("event_id") % 2 == 1),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_ohlc(spark, sf, str(tmp_path), max_files_per_trigger=1)
    want = downsample_ohlc(dedup_exact(parse_bronze(raw)))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_ohlc_dedups_duplicate_readings(spark, tmp_path):
    """Inject hash-key duplicates (same serial/metric/ts, higher
    event_id, DIFFERENT value) into a second micro-batch file: the
    silver-hop dedup must drop them, so the OHLC output still equals
    the batch twin over dedup_exact input — without the dedup hop the
    duplicates would inflate n/mean and flip min_by/max_by ties."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.derived import downsample_ohlc
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import streaming_ohlc

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    max_id = raw.agg(F.max("event_id")).collect()[0][0]
    dups = (
        raw.orderBy("event_id")
        .limit(200)
        .withColumn("event_id", F.col("event_id") + max_id + 1)
        .withColumn("value", F.col("value") * 10 + 1)
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, part_df in enumerate([raw, dups]):
        tmp_out = str(tmp_path / f"half{i}")
        part_df.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_ohlc(spark, sf, str(tmp_path), max_files_per_trigger=1)
    full = raw.unionByName(dups)
    want = downsample_ohlc(dedup_exact(parse_bronze(full)))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_streaming_hll_union_is_lossless_across_batches(spark, tmp_path):
    """Chop the feed into two micro-batches: the store's merged
    sketches must estimate EXACTLY what one batch sketch over the
    whole feed estimates (union at one lgConfigK is lossless), and the
    audit flag must hold for every group."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import parse_bronze
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        HLL_STREAM_LG_K,
        streaming_approx_distinct,
    )

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.col("event_id") % 2 == 0),
        raw.filter(F.col("event_id") % 2 == 1),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    out = streaming_approx_distinct(spark, sf, str(tmp_path), max_files_per_trigger=1)
    rows = out.collect()
    assert rows and all(r.within_tol for r in rows)
    # merged estimates == direct single-sketch estimates over the feed
    from telemetry_streaming_datalake_spark.streaming.sinks import read_store

    merged = read_store(spark, str(tmp_path / "hll_store")).select(
        "metric", "datestamp", F.hll_sketch_estimate("sketch").alias("est")
    )
    direct = (
        parse_bronze(raw)
        .groupBy("metric", "datestamp")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("serial", F.lit(HLL_STREAM_LG_K))
            ).alias("est")
        )
    )
    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        tuple(r) for r in direct.collect()
    )


def test_hll_store_merge_is_replay_idempotent(spark, tmp_path):
    """HLL union is idempotent (register maxima), so re-merging the
    same micro-batch after a checkpoint replay leaves every estimate
    unchanged — no batch-id bookkeeping needed for THIS sink."""
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        HLL_STREAM_LG_K,
        _merge_hll_store,
    )
    from telemetry_streaming_datalake_spark.streaming.sinks import read_store

    store = str(tmp_path / "hll")
    batch = spark.createDataFrame(
        [("m", "d1", f"s{i}") for i in range(50)],
        "metric string, datestamp string, serial string",
    )
    agg = batch.groupBy("metric", "datestamp").agg(
        F.hll_sketch_agg("serial", F.lit(HLL_STREAM_LG_K)).alias("sketch")
    )
    _merge_hll_store(store, agg)
    first = read_store(spark, store).select(
        F.hll_sketch_estimate("sketch")
    ).collect()[0][0]
    _merge_hll_store(store, agg)  # replayed batch
    again = read_store(spark, store).select(
        F.hll_sketch_estimate("sketch")
    ).collect()[0][0]
    assert first == again


def test_hll_store_crash_mid_write_keeps_previous_version(spark, tmp_path):
    """A version dir written WITHOUT the pointer swap (crash before
    commit) must be invisible: reads return the previous committed
    store, and the next merge ignores the orphan and overwrites it
    (the previous version is kept for lazy readers)."""
    import os as _os

    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        HLL_STREAM_LG_K,
        _merge_hll_store,
    )
    from telemetry_streaming_datalake_spark.streaming.sinks import read_store

    store = str(tmp_path / "hll")

    def sketch_of(serials):
        batch = spark.createDataFrame(
            [("m", "d1", s) for s in serials],
            "metric string, datestamp string, serial string",
        )
        return batch.groupBy("metric", "datestamp").agg(
            F.hll_sketch_agg("serial", F.lit(HLL_STREAM_LG_K)).alias("sketch")
        )

    _merge_hll_store(store, sketch_of([f"s{i}" for i in range(50)]))
    committed = read_store(spark, store).select(
        F.hll_sketch_estimate("sketch")
    ).collect()[0][0]
    # simulate a crash: v1 data lands but CURRENT never moves
    sketch_of(["zz1", "zz2"]).write.parquet(_os.path.join(store, "v1"))
    assert read_store(spark, store).select(
        F.hll_sketch_estimate("sketch")
    ).collect()[0][0] == committed
    # replayed batch merges into the COMMITTED version, orphan is overwritten
    _merge_hll_store(store, sketch_of([f"t{i}" for i in range(10)]))
    versions = sorted(d for d in _os.listdir(store) if d.startswith("v"))
    assert versions == ["v0", "v1"]
    final = read_store(spark, store).select(
        F.hll_sketch_estimate("sketch")
    ).collect()[0][0]
    assert final >= committed  # 50 + 10 serials, zz* never merged
    assert final < committed + 12


def test_streaming_cusum_carries_drift_across_batches(spark, tmp_path):
    """Time-split feed at maxFilesPerTrigger=1: batch-2 statistics must
    continue batch-1's integer drift state, and the union of emissions
    must equal the batch cusum_changepoint exactly (integer state ==
    bit-exact parity)."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.derived import (
        cusum_changepoint,
    )
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import streaming_cusum

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    ts_cut = raw.select(F.unix_timestamp("ts").alias("u")).approxQuantile("u", [0.5], 0.0)[0]
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.unix_timestamp("ts") <= ts_cut),
        raw.filter(F.unix_timestamp("ts") > ts_cut),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    got = streaming_cusum(spark, sf, str(tmp_path), max_files_per_trigger=1)
    want = cusum_changepoint(dedup_exact(parse_bronze(raw)))
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_upsert_store_abort_mid_apply_keeps_committed_state(spark, tmp_path):
    """An apply that dies before the pointer swap must be invisible:
    reads return the previous committed version, and the next
    successful apply sweeps the orphan dir."""
    import os as _os

    path = str(tmp_path / "store")
    store = ParquetUpsertStore(spark, path, key="id")
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "id string, v int")
    store.apply_batch(b0, 0)
    committed = {r.id: r.v for r in store.read().collect()}
    # simulate a crash: v1 data lands but CURRENT never moves
    spark.createDataFrame([("zz", 99)], "id string, v int").write.parquet(
        _os.path.join(path, "v1")
    )
    assert {r.id: r.v for r in store.read().collect()} == committed
    # replayed/next batch applies on the COMMITTED state; orphan swept
    b1 = spark.createDataFrame([("b", 20)], "id string, v int")
    store.apply_batch(b1, 1)
    assert {r.id: r.v for r in store.read().collect()} == {"a": 1, "b": 20}
    versions = sorted(
        d for d in _os.listdir(path) if d.startswith("v") and d[1:].isdigit()
    )
    cur = _os.path.basename(store.current_data_dir())
    assert cur in versions and "v1" not in versions or cur == "v1"


def test_streaming_slo_burn_equals_batch(spark, tmp_path):
    """Drained streaming SLO burn == the batch operator row-for-row:
    the hourly partials merge across micro-batches and the rolling
    stage is literally the batch code (`slo_rolling`), so every burn
    ratio and both alert gates must be bit-identical."""
    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.detect import slo_burn_alerts
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_slo_burn,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in streaming_slo_burn(spark, sf, str(tmp_path)).collect()
    )
    want = sorted(
        tuple(r)
        for r in slo_burn_alerts(
            dedup_exact(parse_bronze(load_table(spark, sf, "events")))
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_cdc_apply_equals_batch(spark, tmp_path):
    """Drained streaming CDC fold == the batch apply row-for-row,
    including keys whose final op is a tombstone (absent) and the
    audit counts."""
    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.merge import cdc_apply
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import (
        streaming_cdc_apply,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in streaming_cdc_apply(spark, sf, str(tmp_path)).collect()
    )
    batch = cdc_apply(dedup_exact(parse_bronze(load_table(spark, sf, "events"))))
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) > 0


def test_streaming_cms_cells_equal_batch_sketch_across_batches(spark, tmp_path):
    """Chop the feed into two micro-batches: the store's merged cells
    must equal the single batch sketch over the whole (deduped) feed
    EXACTLY — cell-wise addition is lossless — and the drained audit
    (the batch audit code path fed the store's cells) must hold for
    every row."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.rollup import cms_sketch
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import streaming_freq_sketch
    from telemetry_streaming_datalake_spark.streaming.sinks import read_store

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    landing = tmp_path / "landing"
    landing.mkdir()
    halves = [
        raw.filter(F.col("event_id") % 2 == 0),
        raw.filter(F.col("event_id") % 2 == 1),
    ]
    for i, half in enumerate(halves):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    out = streaming_freq_sketch(spark, sf, str(tmp_path), max_files_per_trigger=1)
    rows = out.collect()
    assert rows and all(r.within_contract for r in rows)
    merged = {
        (r.row_idx, r.col_idx): r.cell_count
        for r in read_store(spark, str(tmp_path / "cms_store")).collect()
    }
    direct = {
        (r.row_idx, r.col_idx): r.cell_count
        for r in cms_sketch(
            dedup_exact(parse_bronze(raw))
        ).collect()
    }
    assert merged == direct


def test_streaming_cms_skips_the_no_data_batch(spark, tmp_path, monkeypatch):
    """A single-file drain runs the data batch and then the watermark's
    no-data batch; the empty one has no cells, so the store publishes
    exactly one version (no re-read of the store into a copy)."""
    published = []
    real = SK.publish_version

    def spy(store, populate, **kw):
        published.append(store)
        return real(store, populate, **kw)

    monkeypatch.setattr(SK, "publish_version", spy)
    out = SP.streaming_freq_sketch(spark, SF_DIR, str(tmp_path))
    rows = out.collect()
    assert rows and all(r.within_contract for r in rows)
    assert len(published) == 1


def _gs_store(spark, root):
    from decimal import Decimal

    store = os.path.join(root, "gs_store")
    delta = spark.createDataFrame(
        [("HOUR", "0", 1, 2, 3, 4, Decimal("1.5"), -1.0, 2.0, 3),
         ("DAY", "0", 1, 2, 3, 4, Decimal("0.25"), 0.5, 0.5, 1)],
        "grain string, bucket string, remote_id int, metric_id int, "
        "provider_id int, category_id int, p_sum decimal(38,6), "
        "p_min double, p_max double, p_n long",
    )

    def read():
        cur = SP.current_version_dir(store)
        return {
            tuple(r[:6]): (r.p_sum, r.p_min, r.p_max, r.p_n)
            for r in spark.read.parquet(cur).collect()
        }

    def twice(one):  # sums and counts double, min/max stay
        return {k: (2 * s, lo, hi, 2 * n) for k, (s, lo, hi, n) in one.items()}

    def apply(bid):  # the grouping-sets merge's fold
        SP._fold_store(store, delta, bid, SP._GS_KEYS, [
            F.sum("p_sum").alias("p_sum"),
            F.min("p_min").alias("p_min"),
            F.max("p_max").alias("p_max"),
            F.sum("p_n").alias("p_n"),
        ])

    return store, apply, read, twice


def _cms_store(spark, root):
    from telemetry_streaming_datalake_spark.operators.rollup import cms_sketch

    store = os.path.join(root, "cms_store")
    cells = cms_sketch(
        spark.createDataFrame([("a",), ("a",), ("b",)], "serial string")
    ).localCheckpoint(eager=True)

    def read():
        return {
            (r.row_idx, r.col_idx): r.cell_count
            for r in SK.read_store(spark, store).collect()
        }

    def twice(one):  # cell-wise addition of the same batch
        return {k: 2 * v for k, v in one.items()}

    return store, lambda bid: SP._merge_cms_store(store, cells, bid), read, twice


def _seen_store(spark, root):
    seen_dir = os.path.join(root, "seen")
    os.makedirs(seen_dir)
    urls = {0: ["http://a.example/", "http://b.example/"], 1: ["http://c.example/"]}

    def apply(bid):
        # batch bid-1's delta, then the fold at bid (a replay re-lands
        # the delta, as a crash between the commit and the sweep leaves it)
        (
            spark.createDataFrame([(u,) for u in urls[bid - 1]], "canonical_url string")
            .withColumn("bucket", SP._seen_bucket_col())
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(os.path.join(seen_dir, f"batch={bid - 1}"))
        )
        SP._seen_compact(spark, seen_dir, bid)

    def read():
        cur = SP.current_version_dir(os.path.join(seen_dir, "compacted"))
        return sorted(r.canonical_url for r in spark.read.parquet(cur).collect())

    def twice(_one):  # every admission exactly once
        return sorted(urls[0] + urls[1])

    return os.path.join(seen_dir, "compacted"), apply, read, twice


def _store_snapshot(store):
    """CURRENT's text plus every file under the store with size and
    mtime: equal snapshots mean nothing was published or rewritten."""
    with open(os.path.join(store, "CURRENT")) as fh:
        current = fh.read()
    files = sorted(
        (os.path.relpath(os.path.join(d, f), store), st.st_size, st.st_mtime_ns)
        for d, _dirs, names in os.walk(store)
        for f in names
        if f != "CURRENT"
        for st in [os.stat(os.path.join(d, f))]
    )
    return current, files


@pytest.mark.parametrize("make", [_gs_store, _cms_store, _seen_store],
                         ids=["grouping_sets", "cms", "seen"])
def test_batch_id_store_applies_each_batch_exactly_once(spark, tmp_path, monkeypatch, make):
    """The three non-idempotent stores commit their batch id with the
    version (publish_version): re-publishing an applied id changes
    nothing on disk, a populate that dies after a partial write leaves
    reads at the committed version, and retrying that id then applies
    it exactly once — a NEW id still merges."""
    store, apply, read, twice = make(spark, str(tmp_path))
    apply(1)
    one = read()
    before = _store_snapshot(store)
    apply(1)  # replayed batch id
    assert _store_snapshot(store) == before
    assert read() == one

    real = SK.publish_version

    def crash_before_swap(store_, populate, **kw):
        def partial(cur, new_dir):
            populate(cur, new_dir)
            raise RuntimeError("crash before the CURRENT swap")

        return real(store_, partial, **kw)

    monkeypatch.setattr(SK, "publish_version", crash_before_swap)
    with pytest.raises(RuntimeError):
        apply(2)
    assert os.path.isdir(os.path.join(store, "v1"))  # the uncommitted write
    assert _store_snapshot(store)[0] == before[0] == "v0"
    assert read() == one
    monkeypatch.setattr(SK, "publish_version", real)
    apply(2)  # recovery: the retried id lands in v1, once
    assert read() == twice(one)
    apply(2)
    assert read() == twice(one)


def test_cms_store_replay_is_skipped_by_ledger(spark, tmp_path):
    """Cell-wise addition is NOT idempotent (unlike HLL register
    union), so a checkpoint-replayed batch id must be skipped by the
    batch id committed with the store's version; a NEW batch id still
    merges."""
    from telemetry_streaming_datalake_spark.operators.rollup import cms_sketch

    store = str(tmp_path / "store")
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "serial string")
    cells = cms_sketch(df)
    SP._merge_cms_store(store, cells, 0)
    first = sorted(tuple(r) for r in SK.read_store(spark, store).collect())
    SP._merge_cms_store(store, cells, 0)  # replayed batch id
    assert sorted(tuple(r) for r in SK.read_store(spark, store).collect()) == first
    assert SP.version_batch_id(SP.current_version_dir(store)) == 0
    SP._merge_cms_store(store, cells, 1)  # genuinely new batch
    doubled = {
        (r.row_idx, r.col_idx): r.cell_count
        for r in SK.read_store(spark, store).collect()
    }
    assert doubled == {
        (r.row_idx, r.col_idx): 2 * r.cell_count
        for r in cells.collect()
    }


def test_cms_store_ignores_uncommitted_version_dir(spark, tmp_path):
    """A v-dir without the CURRENT pointer swap (crash mid-write) must
    be invisible: reads resolve the committed version and a subsequent
    merge overwrites the leftover."""
    from telemetry_streaming_datalake_spark.operators.rollup import cms_sketch

    store = str(tmp_path / "store")
    df = spark.createDataFrame([("a",), ("b",)], "serial string")
    cells = cms_sketch(df)
    SP._merge_cms_store(store, cells, 0)
    committed = sorted(tuple(r) for r in SK.read_store(spark, store).collect())
    # simulate a crash: v1 data written, pointer never swapped
    crash_dir = os.path.join(store, "v1")
    cells.write.mode("overwrite").parquet(crash_dir)
    assert sorted(tuple(r) for r in SK.read_store(spark, store).collect()) == committed
    SP._merge_cms_store(store, cells, 1)  # recovery merge lands in v1
    assert {
        (r.row_idx, r.col_idx): r.cell_count
        for r in SK.read_store(spark, store).collect()
    } == {(r.row_idx, r.col_idx): 2 * r.cell_count for r in cells.collect()}


def test_publish_frame_failed_build_keeps_the_committed_version(spark, tmp_path):
    """A whole-result publish is atomic: a frame that fails while it is
    written leaves CURRENT and the committed relation as they were (an
    in-place overwrite would have deleted them first), and the next
    good publish lands."""
    store = str(tmp_path / "result")
    good = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert SK.publish_frame(store, lambda _cur: good)
    before = _store_snapshot(store)
    first = sorted(tuple(r) for r in SK.read_store(spark, store).collect())
    bad = good.withColumn("v", F.raise_error(F.lit("build failed")).cast("string"))
    with pytest.raises(Exception, match="build failed"):
        SK.publish_frame(store, lambda _cur: bad)
    assert _store_snapshot(store)[0] == before[0] == "v0"
    assert sorted(tuple(r) for r in SK.read_store(spark, store).collect()) == first
    assert SK.publish_frame(store, lambda _cur: good.filter("k = 2"))
    assert [tuple(r) for r in SK.read_store(spark, store).collect()] == [(2, "b")]


def test_streaming_cms_drops_cross_batch_duplicates(spark, tmp_path):
    """A reading replayed VERBATIM in a later micro-batch (same
    unique_hash_key) must not inflate the sketch: the watermarked
    dropDuplicatesWithinWatermark state spans batches, so the store
    still equals the batch sketch over the DEDUPED feed.  The sf
    fixtures carry no duplicates, so this injects one — the dedup
    parity claim gets its own red path."""
    import glob
    import os as _os
    import shutil

    from telemetry_streaming_datalake_spark.ingest.bronze import (
        dedup_exact,
        parse_bronze,
    )
    from telemetry_streaming_datalake_spark.operators.rollup import cms_sketch
    from telemetry_streaming_datalake_spark.session import load_table
    from telemetry_streaming_datalake_spark.streaming.pipeline import streaming_freq_sketch
    from telemetry_streaming_datalake_spark.streaming.sinks import read_store

    sf = "/root/testdata/sf0.001"
    raw = load_table(spark, sf, "events")
    landing = tmp_path / "landing"
    landing.mkdir()
    first = raw.filter(F.col("event_id") % 2 == 0)
    # batch 2 = the odd half PLUS a verbatim replay of 50 batch-1 rows
    # (same serial/metric/ts -> same unique_hash_key, higher event_id)
    replay = (
        first.orderBy("event_id")
        .limit(50)
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    )
    second = raw.filter(F.col("event_id") % 2 == 1).unionByName(replay)
    for i, half in enumerate([first, second]):
        tmp_out = str(tmp_path / f"half{i}")
        half.coalesce(1).write.parquet(tmp_out)
        part = glob.glob(_os.path.join(tmp_out, "part-*.parquet"))[0]
        shutil.move(part, str(landing / f"feed{i}.parquet"))
    out = streaming_freq_sketch(spark, sf, str(tmp_path), max_files_per_trigger=1)
    assert all(r.within_contract for r in out.collect())
    merged = {
        (r.row_idx, r.col_idx): r.cell_count
        for r in read_store(spark, str(tmp_path / "cms_store")).collect()
    }
    direct = {
        (r.row_idx, r.col_idx): r.cell_count
        for r in cms_sketch(dedup_exact(parse_bronze(raw))).collect()
    }
    assert merged == direct  # the 50 replayed rows left no trace


def test_web_front_door_runs_as_a_stream(spark, tmp_path):
    """The crawl-ingest shape end-to-end under Structured Streaming:
    raw HTML pages stream in, `html_extract` runs per micro-batch
    (map-only — streamable as-is, no state), and the drained
    extraction equals the batch extraction row-for-row (batch==stream
    code, the streaming_corpus_gate discipline)."""
    import shutil

    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    pages = W.attach_html_payload(docs)
    src = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(src)

    out_dir = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    (
        W.html_extract(None, payloads=stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    drained = {
        (r.doc_id, r.extracted_text, r.n_blocks, r.n_dropped)
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r.doc_id, r.extracted_text, r.n_blocks, r.n_dropped)
        for r in W.html_extract(docs).collect()
    }
    assert drained == batch
    shutil.rmtree(out_dir, ignore_errors=True)


def test_streaming_url_frontier_matches_batch_keepers(spark, tmp_path):
    """The crawl frontier drained over four doc_id-ranged micro-batches
    admits EXACTLY the batch operator's keeper rows (unblocked,
    earliest doc_id per canonical URL) — first-batch-wins across the
    persisted seen-store coincides with the batch min-doc_id rule."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    got = {
        (r.doc_id, r.canonical_url)
        for r in SP.streaming_url_frontier(spark, SF_DIR, str(tmp_path)).collect()
    }
    batch = W.url_canonicalize(load_table(spark, SF_DIR, "documents"))
    want = {
        (r.doc_id, r.canonical_url)
        for r in batch.filter("is_keeper").collect()
    }
    assert got == want
    # the frontier admitted strictly fewer rows than arrived (dedup
    # and blocklist both live)
    assert len(got) < load_table(spark, SF_DIR, "documents").count()


def test_streaming_frontier_staging_order_survives_ten_plus_files(
    spark, tmp_path
):
    """≥10 staged landing files (VERDICT r14 #2): lexicographic file
    order breaks at i>=10 ('10_' < '2_'), which would scramble the
    arrival order first-batch-wins == min-doc_id relies on.  The
    staging stamps mtimes under a NUMERIC sort key, so a 12-file drain
    must (a) stage files whose mtimes strictly increase in doc_id-range
    order and (b) admit exactly the batch keeper rows."""
    import os

    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    got = {
        (r.doc_id, r.canonical_url)
        for r in SP.streaming_url_frontier(
            spark, SF_DIR, str(tmp_path), n_files=12
        ).collect()
    }
    landing = str(tmp_path / "frontier_landing")
    staged = sorted(
        os.listdir(landing), key=lambda f: int(f.split("_", 1)[0])
    )
    assert len(staged) >= 10, "staging must actually cross the i>=10 seam"
    mtimes = [os.path.getmtime(os.path.join(landing, f)) for f in staged]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes), (
        "mtimes must strictly increase in numeric index (= doc_id range) "
        f"order, got {list(zip(staged, mtimes))}"
    )
    batch = W.url_canonicalize(load_table(spark, SF_DIR, "documents"))
    want = {
        (r.doc_id, r.canonical_url)
        for r in batch.filter("is_keeper").collect()
    }
    assert got == want


def test_streaming_url_frontier_compaction_folds_and_bounds_store(
    spark, tmp_path
):
    """With compact_every=2 over five micro-batches, the delta dirs
    fold twice (batch 2: 0-1; batch 4: compacted+2-3) — admissions
    are unchanged and the final store is ONE compacted dir + the last
    batch's delta, not O(batches) dirs (VERDICT r13 #3)."""
    import os

    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    got = {
        (r.doc_id, r.canonical_url)
        for r in SP.streaming_url_frontier(
            spark, SF_DIR, str(tmp_path), n_files=5, compact_every=2
        ).collect()
    }
    batch = W.url_canonicalize(load_table(spark, SF_DIR, "documents"))
    want = {
        (r.doc_id, r.canonical_url)
        for r in batch.filter("is_keeper").collect()
    }
    assert got == want
    state = sorted(
        d
        for d in os.listdir(str(tmp_path / "frontier_seen"))
        if d.startswith(("batch=", "compacted"))
    )
    assert state == ["batch=4", "compacted"]
    # one committed compacted version (plus the previous one kept for
    # lazy readers), folded at batch 4
    store = str(tmp_path / "frontier_seen" / "compacted")
    comp = SP.current_version_dir(store)
    assert SP.version_batch_id(comp) == 4
    assert sorted(os.listdir(store)) == ["CURRENT", "v0", "v1"]
    # the compacted store is hive-bucketed for partition-pruned probes
    assert any(d.startswith("bucket=") for d in os.listdir(comp))
    # compacted + last delta together hold every admission exactly once
    delta = str(tmp_path / "frontier_seen" / "batch=4")
    urls = [
        r.canonical_url
        for r in spark.read.option("basePath", comp)
        .parquet(comp)
        .unionByName(
            spark.read.option("basePath", delta).parquet(delta)
        )
        .collect()
    ]
    assert sorted(urls) == sorted({u for _d, u in got})


def test_streaming_paragraph_dedup_equals_batch_operator(spark, tmp_path):
    """Corpus-grain paragraph dedup drained over doc_id-ranged
    micro-batches equals the batch rewrite exactly: the cross-batch
    chunk-hash store makes first-batch-wins coincide with the global
    min-(doc_id, idx) winner (identical oracle — the batch->stream
    twin pattern)."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD
    from telemetry_streaming_datalake_spark.session import load_table

    got = {
        tuple(r)
        for r in SP.streaming_paragraph_dedup(
            spark, SF_DIR, str(tmp_path), n_files=3, compact_every=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in DD.paragraph_dedup(
            load_table(spark, SF_DIR, "documents")
        ).collect()
    }
    assert got == want and len(got) > 0
    # the chunk store compacted at batch 2 (fold proof: bounded dirs)
    state = sorted(
        d
        for d in os.listdir(str(tmp_path / "para_seen"))
        if d.startswith(("batch=", "compacted"))
    )
    assert state == ["batch=2", "compacted"]
    comp = SP.current_version_dir(str(tmp_path / "para_seen" / "compacted"))
    assert SP.version_batch_id(comp) == 2


def test_streaming_paragraph_dedup_full_replay_is_idempotent(spark, tmp_path):
    first, second = _rerun_after_checkpoint_loss(
        spark,
        tmp_path,
        lambda: SP.streaming_paragraph_dedup(
            spark, SF_DIR, str(tmp_path), n_files=2
        ),
        "para_ckpt",
    )
    assert first == second and len(first) > 0


def test_streaming_url_frontier_replay_with_compaction_is_idempotent(
    spark, tmp_path
):
    """Checkpoint loss AFTER a compaction has folded (and deleted) the
    early delta dirs: every batch replays against the compacted store
    and re-admits identical rows — the fold's committed batch id skips
    the re-fold whose inputs are gone."""
    first, second = _rerun_after_checkpoint_loss(
        spark,
        tmp_path,
        lambda: SP.streaming_url_frontier(
            spark, SF_DIR, str(tmp_path), n_files=3, compact_every=2
        ),
        "frontier_ckpt",
    )
    assert first == second and len(first) > 0


def test_streaming_url_frontier_replay_behind_a_later_fold_is_idempotent(
    spark, tmp_path
):
    """Checkpoint loss after TWO folds (at batches 2 and 4): replayed
    batch 2 finds the later fold current, so it skips its own fold and
    must keep the re-landed deltas 0 and 1 — the probe reads every
    delta then, and deleting them would re-admit their URLs."""
    first, second = _rerun_after_checkpoint_loss(
        spark,
        tmp_path,
        lambda: SP.streaming_url_frontier(
            spark, SF_DIR, str(tmp_path), n_files=5, compact_every=2
        ),
        "frontier_ckpt",
    )
    comp = SP.current_version_dir(str(tmp_path / "frontier_seen" / "compacted"))
    assert SP.version_batch_id(comp) == 4
    assert first == second and len(first) > 0
    admitted = spark.read.parquet(str(tmp_path / "frontier_admit"))
    assert admitted.count() == admitted.select("canonical_url").distinct().count() == len(first)


def test_seen_probe_is_partition_pruned_on_touched_buckets(spark, tmp_path):
    """The cross-batch anti-join's scan of the seen-store carries a
    pushed PartitionFilter on `bucket` — per-batch probe I/O is
    O(touched buckets), never a full-store scan (the bm25_indexed /
    ann_ivf_indexed pruned-probe posture)."""
    import re

    seen_dir = str(tmp_path / "seen")
    os.makedirs(seen_dir)
    prior = (
        spark.createDataFrame(
            [(f"http://h{i}.example.com/",) for i in range(40)],
            "canonical_url string",
        )
        .withColumn("bucket", SP._seen_bucket_col())
    )
    prior.write.partitionBy("bucket").parquet(
        os.path.join(seen_dir, "batch=0")
    )
    cand = (
        spark.createDataFrame(
            [(1, "http://h1.example.com/"), (2, "http://new.example.com/")],
            "doc_id long, canonical_url string",
        )
        .withColumn("bucket", SP._seen_bucket_col())
        .localCheckpoint(eager=True)
    )
    probed = SP._seen_probe(cand, seen_dir, 1)
    p = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "bucket" in m.group(1) and "IN" in m.group(1).upper()
    # and the probe is correct: the seen URL drops, the new one stays
    assert {r.doc_id for r in probed.collect()} == {2}


def test_streaming_web_ingest_matches_batch_manifest(spark, tmp_path):
    """The full front door drained as a stream (frontier admission →
    robots → WARC parse → html_extract over the parsed body → Gopher
    gate) lands EXACTLY the batch web_ingest_manifest's final_keep
    rows joined to their extractions — and the html_md5 column proves
    the extraction consumed the PARSED record body, not a
    re-synthesis."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    got = {
        (r.doc_id, r.canonical_url, r.html_md5, r.extracted_text, r.n_blocks)
        for r in SP.streaming_web_ingest(spark, SF_DIR, str(tmp_path)).collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    m = W.web_ingest_manifest(docs).filter("final_keep").select(
        "doc_id", "canonical_url"
    )
    ext = W.html_extract(docs)
    pages = W.attach_html_payload(docs).select(
        "doc_id", F.md5("html").alias("html_md5")
    )
    want = {
        (r.doc_id, r.canonical_url, r.html_md5, r.extracted_text, r.n_blocks)
        for r in m.join(ext, "doc_id").join(pages, "doc_id").select(
            "doc_id", "canonical_url", "html_md5", "extracted_text", "n_blocks"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_change_feed_matches_batch_silver_post_cutoff(spark, tmp_path):
    """A silver hop drained FROM read_changes(v0) equals batch silver
    restricted to the post-cutoff delta — the startingVersion chaining
    run end-to-end through a stream."""
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest.silver import to_silver
    from telemetry_streaming_datalake_spark.session import load_table

    got = {
        (r.event_id, r.metric_id, r.value, r.unix_ts)
        for r in SP.streaming_change_feed(spark, SF_DIR, str(tmp_path)).collect()
    }
    ded = B.dedup_exact(B.parse_bronze(load_table(spark, SF_DIR, "events")))
    want = {
        (r.event_id, r.metric_id, r.value, r.unix_ts)
        for r in to_silver(
            ded.filter(F.col("unix_ts") >= 1705276800), dm.metric_mapping(spark)
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_change_feed_empty_delta_is_empty_not_an_error(spark, tmp_path):
    """A subscription with nothing past the high-water mark drains
    zero batches and returns the hop's EMPTY relation with the right
    schema — never a path error or a snapshot redelivery."""
    out = SP.streaming_change_feed(
        spark, SF_DIR, str(tmp_path), cutoff=4_000_000_000
    )
    assert out.count() == 0
    assert "metric_id" in out.columns and "value" in out.columns


def _rerun_after_checkpoint_loss(spark, tmp_path, fn, ckpt_name):
    """Drain once, then delete ONLY the checkpoint and drain again —
    every batch replays against the surviving cross-batch state, the
    exact scenario of the r12 frontier replay bug (a replayed batch
    anti-joining its own prior output and erasing its admissions)."""
    import shutil

    first = {tuple(r) for r in fn().collect()}
    shutil.rmtree(str(tmp_path / ckpt_name))
    second = {tuple(r) for r in fn().collect()}
    return first, second


def test_streaming_url_frontier_full_replay_is_idempotent(spark, tmp_path):
    # n_files=2: the replay property needs >=2 batches, not 4 — halves
    # the double-drain cost (partest budget)
    first, second = _rerun_after_checkpoint_loss(
        spark,
        tmp_path,
        lambda: SP.streaming_url_frontier(spark, SF_DIR, str(tmp_path), n_files=2),
        "frontier_ckpt",
    )
    assert first == second and len(first) > 0


def test_streaming_web_ingest_full_replay_is_idempotent(spark, tmp_path):
    first, second = _rerun_after_checkpoint_loss(
        spark,
        tmp_path,
        lambda: SP.streaming_web_ingest(spark, SF_DIR, str(tmp_path), n_files=2),
        "ingest_ckpt",
    )
    assert first == second and len(first) > 0


def test_streaming_change_feed_full_replay_is_idempotent(spark, tmp_path):
    first, second = _rerun_after_checkpoint_loss(
        spark,
        tmp_path,
        lambda: SP.streaming_change_feed(spark, SF_DIR, str(tmp_path)),
        "feed_ckpt",
    )
    assert first == second and len(first) > 0
