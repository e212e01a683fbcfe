"""Structured Streaming surfaces of the engine.

The reference's whole topology is streaming (Kafka → bronze Delta →
silver Delta → gold Delta → serving), each hop a ``readStream`` /
``writeStream`` pair with a checkpoint, watermarked dedup state, and
``foreachBatch`` MERGE at the serving edge.

This environment has no Kafka broker or Delta, so the streaming
surfaces use the file source/sink (the standard local test rig for
Structured Streaming): ``readStream.parquet(dir)`` plays Kafka,
date-partitioned parquet plays Delta, ``availableNow`` plays the
processing-time trigger for deterministic runs.  The *transformations*
are byte-identical to the batch path — the same ``parse_bronze`` /
``to_silver`` functions are applied to the streaming frame, which is
exactly how Spark unifies batch and streaming (one logical plan API).

Every hop, here and in the always-on runner, starts through ONE
primitive, :func:`start_stream` (:func:`drain` is its availableNow
form): file sink or ``foreachBatch``, checkpoint, trigger, and — for
JVM-stateful hops only — an input-sized state-partition count that is
set on the session around ``start()`` alone and restored before the
call returns, so no drain holds a changed session conf while its
batches (or any other query) run.

Every hop also READS and DEDUPS through one set of hop builders, which
the always-on runner builds its hops from too: :func:`landing_stream`
is the library's only ``readStream`` (a lake-to-lake hop passes the
upstream frame's schema, so no lake is footer-inferred);
:func:`events_stream` stages and streams the events feed typed like
the batch loader; :func:`bronze_dedup` is the reference's per-feed
watermark + hash-key dedup recipe; :func:`deduped_lake_stream` drains
it to a lake and streams that lake back for the twins whose aggregate
must be the query's one stateful operator.  Every ``foreachBatch``
body writes through one of the two sink primitives of
:mod:`.sinks`: ``land_batch`` for one batch's rows, ``publish_frame``
for a whole result.

Scale notes: the watermark bounds dropDuplicates state exactly like the
reference's 48 h watermark (``Part1 ….scala:69``); sinks partition by
``datestamp``; the upsert sink rewrites only the partitions present in
each micro-batch (dynamic partition overwrite), which is the parquet
analog of a keyed MERGE.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from telemetry_streaming_datalake_spark.ingest.bronze import dedup_exact, parse_bronze
from telemetry_streaming_datalake_spark.ingest.silver import to_silver
from telemetry_streaming_datalake_spark.operators.derived import floor_round
from telemetry_streaming_datalake_spark.session import load_table, normalize_nano_ts
from telemetry_streaming_datalake_spark.streaming.sinks import (
    current_version_dir,
    land_batch,
    landed_batches,
    publish_frame,
    read_batch_lake,
    read_store,
    version_batch_id,
)

#: watermark delay for dedup state (reference uses 48 h)
DEDUP_WATERMARK = "48 hours"


def _stage_parquet(src: str, landing: str, name: str) -> None:
    """Stage a parquet table into a streaming landing directory.  The
    table may be a SINGLE file (the driver test lake) or a
    Spark-written DIRECTORY of part files (any real lake table, e.g.
    the 10x scale corpus) — a multi-file stage is exactly what a
    multi-partition topic drop looks like to the file source.

    Each file is copied under a ``_``-prefixed name, which the file
    source never lists, and renamed into place: a running query sees
    the whole file or nothing, never a half-copied one."""
    import shutil

    if os.path.isdir(src):
        parts = [
            (os.path.join(src, part), f"{i}_{name}")
            for i, part in enumerate(sorted(os.listdir(src)))
            if part.endswith(".parquet")
        ]
    else:
        parts = [(src, name)]
    for path, dest in parts:
        tmp = os.path.join(landing, f"_{dest}.tmp")
        shutil.copy(path, tmp)
        os.replace(tmp, os.path.join(landing, dest))


#: target bytes of drained input per state-shuffle partition.  Streaming
#: plans run with AQE disabled, so the post-shuffle coalescing a batch
#: query gets for free must be chosen up front: the shuffle-partition
#: count at a streaming query's FIRST batch is baked into its
#: checkpoint, and every partition is a live state-store instance that
#: pays a per-batch commit (delta file write + fsync) for the query's
#: whole life.  ``tools/prof.py``'s state-operator records show the
#: cost: the slo_burn drain spent ~50 s of task time in 64 state-store commits
#: over a 2 MB feed — dimension-sized state does not need 32 stores,
#: and 100 TB of drained input does not fit in 32 either.  Deriving the
#: count from the drained bytes (capped at cluster parallelism, floored
#: at 1) keeps both ends honest — guide §2.2 "fewer, larger partitions"
#: + §2 "make partitioning scale-adaptive, not a constant".
STREAM_STATE_TARGET_BYTES = 32 * 1024 * 1024


def _path_bytes(path: str) -> int:
    """Data bytes under a file or directory (metadata files excluded)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _stream_state_parts(spark: SparkSession, *src_paths: str) -> int:
    """Input-size-derived shuffle/state partition count for a stateful
    streaming drain: ceil(input bytes / STREAM_STATE_TARGET_BYTES),
    capped at the cluster's defaultParallelism, floored at 1.
    ``SPARK_GRAFT_STREAM_PARTS`` pins it for production topologies
    whose state outgrows their per-drain input (e.g. an unbounded
    keyed store fed by a trickle)."""
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTS")
    if env:
        return max(1, int(env))
    total = sum(_path_bytes(p) for p in src_paths if os.path.exists(p))
    cap = spark.sparkContext.defaultParallelism
    return max(1, min(cap, -(-total // STREAM_STATE_TARGET_BYTES)))


def start_stream(
    df: DataFrame,
    checkpoint: str,
    *,
    path: str | None = None,
    foreach_batch=None,
    mode: str = "append",
    partition_by: str | None = None,
    state_src: tuple[str, ...] = (),
    name: str | None = None,
    processing_time: str | None = None,
) -> StreamingQuery:
    """Build and start one streaming query — the library's only
    ``writeStream``.  The sink is ``foreach_batch`` when given, else a
    parquet file sink at ``path``; the trigger is ``processing_time``
    when given, else availableNow (see :func:`drain`).

    ``state_src`` names the drained input path(s) of a JVM-stateful
    query (watermarked dedup, windowed aggregate, stream-stream join):
    the session's shuffle-partition count is set to the input-sized
    :func:`_stream_state_parts` around ``start()`` ONLY and restored
    before this returns.  The query keeps the count in force at
    ``start()`` (it runs on its own session clone and bakes the count
    into its checkpoint), so its state operators run scaled while the
    session keeps its own value for every other query on it, the
    ``foreachBatch`` body's queries on that session included.  Results are partition-count-invariant
    (keyed state; rounded aggregates); only the state-store commit
    fan-out changes.  Python-stateful (``applyInPandasWithState``) and
    foreachBatch-ladder drains pass no ``state_src``: their cost is
    per-row compute that wants the full core count (A/B'd in
    OPTIMIZATION_r15.md — cusum regressed 2.3×, the crawl trio ~1.2×,
    under a lowered count)."""
    w = df.writeStream.outputMode(mode).option("checkpointLocation", checkpoint)
    if foreach_batch is not None:
        w = w.foreachBatch(foreach_batch)
    else:
        w = w.format("parquet").option("path", path)
    if partition_by:
        w = w.partitionBy(partition_by)
    if name:
        w = w.queryName(name)
    if processing_time:
        w = w.trigger(processingTime=processing_time)
    else:
        w = w.trigger(availableNow=True)
    if not state_src:
        return w.start()
    spark = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(_stream_state_parts(spark, *state_src)))
    try:
        return w.start()
    finally:
        spark.conf.set(key, old)


def drain(df: DataFrame, checkpoint: str, **kw) -> StreamingQuery:
    """:func:`start_stream` with the availableNow trigger, run to
    completion: every input file present at start is processed, the
    query stops, and its (terminated) handle is returned."""
    q = start_stream(df, checkpoint, **kw)
    q.awaitTermination()
    return q


def landing_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    *,
    fmt: str = "parquet",
    max_files: int | None = None,
) -> DataFrame:
    """Stream a landing directory or an upstream hop's lake — the
    library's only ``readStream``.  A lake-to-lake hop passes the
    upstream frame's schema, so no lake (empty or not) is
    footer-inferred; ``max_files`` bounds files per micro-batch."""
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.load(path)


def events_stream(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files: int | None = None
) -> DataFrame:
    """The events feed as a stream over ``work_dir/landing``, typed
    like :func:`load_table` (``ts`` a timestamp, exactly the batch
    loader's values), as the always-on runner reads its landing dir.

    The feed file is staged into the landing dir first — the file
    source watches directories (like a Kafka topic watches
    partitions), so this mirrors real file-drop ingestion.  With
    ``max_files`` the caller has staged several feed files there and
    each micro-batch takes at most that many, so state must carry
    across batches."""
    landing = os.path.join(work_dir, "landing")
    if not max_files:
        os.makedirs(landing, exist_ok=True)
        _stage_parquet(os.path.join(sf_dir, "events.parquet"), landing, "events.parquet")
    schema = load_table(spark, sf_dir, "events").schema
    return landing_stream(spark, landing, schema, max_files=max_files)


def bronze_dedup(bronze: DataFrame) -> DataFrame:
    """The reference's per-feed Bronze recipe on parsed rows: watermark
    on event time, drop ``unique_hash_key`` duplicates.

    ``dropDuplicatesWithinWatermark``: dedup state really IS evicted
    once an event's time passes the watermark (plain dropDuplicates on
    a key subset without the event-time column keeps state forever —
    the reference's own pattern has that leak)."""
    return (
        bronze.withColumn("event_time", F.timestamp_seconds(F.col("unix_ts")))
        .withWatermark("event_time", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["unique_hash_key"])
        .drop("event_time")
    )


def streaming_bronze(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files: int | None = None
) -> DataFrame:
    """Streaming bronze: parse + watermarked exactly-once dedup.

    Same dataflow as the reference's query1
    (kafka → parse → watermark → dropDuplicates → partitioned append),
    and the always-on runner's bronze hop (pinned plan-equal in
    ``tests/test_plans.py``).
    """
    return bronze_dedup(parse_bronze(events_stream(spark, sf_dir, work_dir, max_files)))


def deduped_lake_stream(
    spark: SparkSession, sf_dir: str, work_dir: str, name: str, max_files: int | None = None
) -> tuple[DataFrame, str]:
    """Hop 1 of the twins whose batch oracle takes ``dedup_exact``
    input but whose aggregate must be the query's ONE stateful
    operator: drain :func:`streaming_bronze` into ``work_dir/<name>_silver``
    and stream that lake back with the bronze frame's schema.
    Returns the silver stream and its lake dir."""
    bronze = streaming_bronze(spark, sf_dir, work_dir, max_files)
    lake = os.path.join(work_dir, f"{name}_silver")
    drain(
        bronze, f"{lake}_ckpt", path=lake,
        state_src=(os.path.join(sf_dir, "events.parquet"),),
    )
    return landing_stream(spark, lake, bronze.schema), lake


def streaming_silver_dedup(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """End-to-end streaming bronze→silver, drained with availableNow
    and read back as a batch frame.

    Because the feed is a single file (one micro-batch), the result is
    identical to the batch ``silver_dedup`` — which is exactly what the
    oracle checks.
    """
    out = os.path.join(work_dir, "bronze_out")
    ckpt = os.path.join(work_dir, "ckpt")
    drain(
        streaming_bronze(spark, sf_dir, work_dir), ckpt, path=out,
        partition_by="datestamp", state_src=(os.path.join(sf_dir, "events.parquet"),),
    )
    cols = [
        "event_id", "serial", "metric", "value", "payload_k",
        "unix_ts", "datestamp", "hourstamp", "unique_hash_key",
    ]
    # the date-partitioned sink makes Spark re-infer datestamp as DATE;
    # normalize back to the engine's string datestamp
    return (
        spark.read.parquet(out)
        .withColumn("datestamp", F.col("datestamp").cast("string"))
        .select(*cols)
    )


def streaming_upsert_rollup(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Streaming hour-rollup upserted into the serving store — the
    ``Gold Aggregation/Step 05`` pattern: complete-mode aggregate →
    ``foreachBatch`` MERGE (ItemOverwrite) into a keyed store.

    The stream applies the stateless bronze parse, aggregates per
    (metric, datestamp, hourstamp) — ONE stateful operator, as complete
    mode requires — and lands each micro-batch through
    :class:`~..streaming.sinks.ParquetUpsertStore`.  Returns the store
    contents after the availableNow drain.
    """
    from telemetry_streaming_datalake_spark.streaming.sinks import ParquetUpsertStore

    bronze = parse_bronze(events_stream(spark, sf_dir, work_dir))
    agg = bronze.groupBy("metric", "datestamp", "hourstamp").agg(
        F.count(F.lit(1)).alias("n_events"),
        # rounded at the edge like the batch rollups: summation order
        # varies with partitioning, 6dp makes results engine-stable
        # (floor-form — a dyadic-value sum can land exactly on a 6dp
        # midpoint, where engine round() modes disagree)
        floor_round(F.sum("value"), 6).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).withColumn(
        "id", F.concat_ws("|", F.col("metric"), F.col("datestamp"), F.col("hourstamp"))
    )
    store_path = os.path.join(work_dir, "rollup_store")
    ckpt = os.path.join(work_dir, "upsert_ckpt")
    store = ParquetUpsertStore(spark, store_path, key="id", partition_col="datestamp")
    drain(
        agg, ckpt, foreach_batch=store.apply_batch, mode="complete",
        state_src=(os.path.join(sf_dir, "events.parquet"),),
    )
    return store.read().select(
        "id", "metric", F.col("datestamp").cast("string").alias("datestamp"),
        "hourstamp", "n_events", "sum_value", "min_value", "max_value",
    )


# --------------------------------------------------------------------------
# custom stateful operator: applyInPandasWithState
# --------------------------------------------------------------------------

#: output / state schemas for the stateful latest-value operator
STATEFUL_OUTPUT_SCHEMA = (
    "serial string, metric string, n_events long, sum_value double, "
    "last_ts long, last_value double"
)
_STATE_SCHEMA = "n_events long, sum_value double, last_ts long, last_event_id long, last_value double"


def _latest_state_fn(key, pdfs, state):
    """Per-(serial, metric) running state: event count, value sum, and
    the value of the latest event (ties on unix_ts broken by event_id —
    deterministic under any partitioning/arrival order)."""
    import pandas as pd

    if state.exists:
        n, total, last_ts, last_id, last_val = state.get
    else:
        n, total, last_ts, last_id, last_val = 0, 0.0, -1, -1, None
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        # batch-local latest by (unix_ts, event_id)
        idx = pdf.sort_values(["unix_ts", "event_id"]).index[-1]
        ts, eid = int(pdf["unix_ts"][idx]), int(pdf["event_id"][idx])
        if (ts, eid) > (last_ts, last_id):
            last_ts, last_id, last_val = ts, eid, float(pdf["value"][idx])
    state.update((n, total, last_ts, last_id, last_val))
    # floor-form 6dp (Python round() is banker's — see derived.floor_round)
    yield pd.DataFrame(
        [[key[0], key[1], n, math.floor(total * 1e6 + 0.5) / 1e6, last_ts, last_val]],
        columns=["serial", "metric", "n_events", "sum_value", "last_ts", "last_value"],
    )


#: output / state schemas for the stateful rate operator
RATE_OUTPUT_SCHEMA = (
    "serial string, metric string, unix_ts long, value double, "
    "delta_secs long, rate_per_sec double"
)
_RATE_STATE_SCHEMA = "last_ts long, last_event_id long, last_value double"


def _rate_state_fn(key, pdfs, state):
    """Per-(serial, metric) rate derivation with the previous reading
    carried as state: each batch emits (Δvalue/Δt) rows for readings
    newer than the carried one.  In-batch duplicate timestamps keep the
    lowest event_id (the batch dedup rule); readings at or before the
    carried timestamp are dropped — the same rows the batch operator
    drops (it sees a globally sorted series).
    """
    import pandas as pd

    if state.exists:
        last_ts, last_id, last_val = state.get
    else:
        last_ts, last_id, last_val = None, -1, None
    out = []
    # applyInPandasWithState delivers a group's rows across multiple Arrow
    # chunks in arbitrary shuffle order — sorting/deduping per chunk would
    # silently drop out-of-order readings once a group spans chunks, so
    # materialize the whole group before the single sorted pass.  The
    # `ts <= last_ts` guard below is cross-BATCH only (state carry).
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(["unix_ts", "event_id"])
            .drop_duplicates("unix_ts", keep="first")
        )
        for r in whole.itertuples(index=False):
            ts, val = int(r.unix_ts), float(r.value)
            if last_ts is not None and ts <= last_ts:
                continue
            if last_ts is not None:
                dt = ts - last_ts
                # floor-form rounding (see derived.floor_round): Python
                # round() is banker's — a decimal-midpoint rate would
                # diverge from the batch/oracle HALF-UP form
                rate = math.floor((val - last_val) / dt * 1e6 + 0.5) / 1e6 + 0.0
                out.append([key[0], key[1], ts, val, dt, rate])
            last_ts, last_id, last_val = ts, int(r.event_id), val
    state.update((last_ts if last_ts is not None else -1, last_id, last_val))
    cols = ["serial", "metric", "unix_ts", "value", "delta_secs", "rate_per_sec"]
    yield pd.DataFrame(out, columns=cols)


def streaming_counter_rate(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of ``operators.derived.counter_rate``: the
    previous (ts, value) per series rides in ``applyInPandasWithState``
    state, so rates flow incrementally as readings arrive — state is
    O(distinct series) regardless of stream length, hash-partitioned by
    the series key (the one exchange the batch window also takes).

    Append-mode emissions land in a parquet sink; over a fully drained
    ``availableNow`` feed the result equals the batch operator row for
    row (the SQL oracle), and with ``maxFilesPerTrigger=1`` the
    cross-batch state carry is exercised (``tests/test_streaming.py``).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    bronze = parse_bronze(events_stream(spark, sf_dir, work_dir, max_files_per_trigger))
    rates = bronze.groupBy("serial", "metric").applyInPandasWithState(
        _rate_state_fn,
        RATE_OUTPUT_SCHEMA,
        _RATE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    out = os.path.join(work_dir, "rate_out")
    ckpt = os.path.join(work_dir, "rate_ckpt")
    drain(rates, ckpt, path=out)
    return spark.read.parquet(out)


def streaming_stateful_latest(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    — the engine's analog of the reference's latest-value serving
    stream (``Metric Stream to Cosmos/Step 06.b Latest ….scala``), but
    as explicit user state rather than a windowed aggregate: per
    (serial, metric) the state carries (count, sum, latest ts/value)
    across micro-batches and each batch emits the updated row
    (update-mode upsert semantics, exactly what a Cosmos/Redis latest
    store consumes).

    Scale shape: state is hash-partitioned by the group key — the same
    single exchange a groupBy would take — and each group's state is a
    5-field tuple, so the state store stays O(distinct keys) no matter
    how many events stream through.  Arrow moves each batch's rows to
    Python in columnar form.

    Each batch's emissions (one row per key it updated) land under
    their batch id, so a replayed batch rewrites its own rows; the
    read-back keeps each key's final emission (max n_events — the count
    is strictly increasing), which equals the batch aggregate over the
    same feed: that equality is the oracle check, and with
    ``max_files_per_trigger=1`` on a multi-file landing it also proves
    cross-batch state carry-over (``tests/test_streaming.py``).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    bronze = parse_bronze(events_stream(spark, sf_dir, work_dir, max_files_per_trigger))
    updated = bronze.groupBy("serial", "metric").applyInPandasWithState(
        _latest_state_fn,
        STATEFUL_OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    out = os.path.join(work_dir, "latest_state_out")
    ckpt = os.path.join(work_dir, "latest_state_ckpt")
    # the file sink rejects update mode (append-only format), so the
    # update-mode emissions land through foreachBatch — the same edge
    # the reference uses for its Cosmos upsert writes
    drain(
        updated, ckpt, mode="update",
        foreach_batch=lambda batch, batch_id: land_batch(batch, out, batch_id),
    )
    emissions = read_batch_lake(spark, out, STATEFUL_OUTPUT_SCHEMA)
    final = emissions.groupBy("serial", "metric").agg(
        F.max(
            F.struct("n_events", "sum_value", "last_ts", "last_value")
        ).alias("s")
    )
    return final.select(
        "serial",
        "metric",
        F.col("s.n_events").alias("n_events"),
        F.col("s.sum_value").alias("sum_value"),
        F.col("s.last_ts").alias("last_ts"),
        F.col("s.last_value").alias("last_value"),
    )


STREAMING_STATEFUL_ORACLE_TEMPLATE = """
WITH bronze AS ({bronze}),
last AS (
    SELECT serial, metric, unix_ts AS last_ts, value AS last_value,
           row_number() OVER (
               PARTITION BY serial, metric ORDER BY unix_ts DESC, event_id DESC
           ) AS rn
    FROM bronze
)
SELECT b.serial, b.metric, count(*) AS n_events,
       floor(sum(b.value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
       l.last_ts, l.last_value
FROM bronze b
JOIN last l ON b.serial = l.serial AND b.metric = l.metric AND l.rn = 1
GROUP BY b.serial, b.metric, l.last_ts, l.last_value
"""


def streaming_bronze_feed_b(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Provider-B ingest as a stream: the packed raw JSON documents
    land in a text directory (one JSON string per line — exactly the
    shape of a Kafka value column) and the SAME batch parser
    (``feeds.parse_bronze_feed_b``) runs on the text stream: explicit
    from_json array schema → element selection → explode → na.fill.
    Proves the multi-provider seam holds in streaming, not just batch
    (the reference runs one streaming notebook per provider)."""
    from telemetry_streaming_datalake_spark.ingest.feeds import (
        pack_feed_b,
        parse_bronze_feed_b,
    )

    landing = os.path.join(work_dir, "feedb_landing")
    pack_feed_b(load_table(spark, sf_dir, "events")).coalesce(1).write.mode(
        "overwrite"
    ).text(landing)
    raw = landing_stream(spark, landing, fmt="text").withColumnRenamed("value", "raw")
    bronze_b = parse_bronze_feed_b(raw)
    out = os.path.join(work_dir, "feedb_out")
    ckpt = os.path.join(work_dir, "feedb_ckpt")
    drain(bronze_b, ckpt, path=out, partition_by="datestamp")
    return (
        spark.read.parquet(out)
        .withColumn("datestamp", F.col("datestamp").cast("string"))
        .select(
            "event_id", "serial", "metric", "value", "unix_ts", "datestamp",
            "hourstamp", "fw", "batch_start_ts", "unique_hash_key",
        )
    )


def streaming_sessionize(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Gap-based sessionization AS A STREAM — the same
    ``operators.sessions.sessionize`` transform applied to the file
    stream (one logical-plan API: ``session_window`` becomes the
    stateful streaming session operator).  Complete-mode output is
    published as a store version, so the availableNow drain materializes
    every session and must equal the batch result exactly
    (``tests/test_streaming.py``)."""
    from telemetry_streaming_datalake_spark.operators.sessions import sessionize

    sess = sessionize(events_stream(spark, sf_dir, work_dir))
    out = os.path.join(work_dir, "sessions_out")
    ckpt = os.path.join(work_dir, "sessions_ckpt")
    drain(
        sess, ckpt, mode="complete", state_src=(os.path.join(sf_dir, "events.parquet"),),
        foreach_batch=lambda batch, _id: publish_frame(out, lambda _cur: batch),
    )
    return read_store(spark, out)


def streaming_gold_three_hop(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Full reference topology as streams: feed → bronze → silver →
    gold, each hop a readStream/writeStream pair over the lake dir of
    the previous one (``Gold state/Step 04-04b ….scala`` reads the
    silver Delta as a stream and joins the modem-history dimension).

    The feed drains into the date-partitioned ``bronze_lake``; that
    lake is consumed AS A STREAM by the silver hop (the reference's
    Delta-as-stream-source pattern, ``Bronze-Silver/Part1 ….scala:93-96``)
    through the batch ``to_silver`` into ``silver_lake``, which streams
    on into ``gold_lake``.  Each lake streams with its upstream frame's
    schema (the always-on runner's hop builders, pinned plan-equal in
    ``tests/test_plans.py``), so ``datestamp`` reads back as the
    engine's string; each hop checkpoints on its own.

    The SCD2 interval join runs as a STREAM-STATIC join: stateless on
    the stream side, the history dimension broadcast per micro-batch —
    the same plan the batch path gets, which is why the drained result
    must equal batch ``gold_enrich`` (asserted in tests, as is the
    ``silver_lake`` against batch silver).
    """
    from telemetry_streaming_datalake_spark.datamodel import metric_mapping, remote_history
    from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold

    bronze = streaming_bronze(spark, sf_dir, work_dir)
    bronze_dir = os.path.join(work_dir, "bronze_lake")
    drain(
        bronze, os.path.join(work_dir, "bronze_ckpt"), path=bronze_dir,
        partition_by="datestamp", state_src=(os.path.join(sf_dir, "events.parquet"),),
    )
    silver = to_silver(landing_stream(spark, bronze_dir, bronze.schema), metric_mapping(spark))
    silver_dir = os.path.join(work_dir, "silver_lake")
    drain(
        silver, os.path.join(work_dir, "silver_ckpt"),
        path=silver_dir, partition_by="datestamp",
    )
    history = remote_history(spark, load_table(spark, sf_dir, "customer"))
    gold = enrich_gold(landing_stream(spark, silver_dir, silver.schema), history)
    gold_dir = os.path.join(work_dir, "gold_lake")
    drain(
        gold, os.path.join(work_dir, "gold_ckpt"),
        path=gold_dir, partition_by="datestamp",
    )
    return (
        spark.read.parquet(gold_dir)
        .withColumn("datestamp", F.col("datestamp").cast("string"))
        .select(
            "event_id", "serial", "remote_id", "unix_ts", "datestamp", "hourstamp",
            "metric", "metric_id", "provider_id", "category_id", "agg_type",
            "value_double", "value_string",
        )
    )


# --------------------------------------------------------------------------
# watermarked sliding-window aggregate
# --------------------------------------------------------------------------

#: sliding window geometry: 2 h windows advancing every 1 h — every
#: event lands in exactly two overlapping windows
SLIDE_WINDOW = "2 hours"
SLIDE_STEP = "1 hour"
#: watermark bounding window state (late data beyond this is dropped)
SLIDE_WATERMARK = "48 hours"


def streaming_sliding_counts(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Watermarked sliding-window aggregate — THE canonical Structured
    Streaming stateful op (`F.window` + `withWatermark`): per metric,
    per 2-hour window sliding hourly, count/sum of readings.

    Scale shape: each event expands to window-count/slide-ratio (=2)
    keyed rows map-side, then ONE partial-agg shuffle on (metric,
    window) — identical to a batch groupBy; the watermark bounds the
    state store to the late-data horizon regardless of stream length.
    Over a fully drained availableNow feed every window closes, so the
    result equals the batch double-bucket aggregate — the SQL oracle
    (each event contributes to the windows starting at ``h`` and
    ``h-1`` hours).
    """
    bronze = parse_bronze(events_stream(spark, sf_dir, work_dir))
    windowed = (
        bronze.withColumn("event_time", F.timestamp_seconds(F.col("unix_ts")))
        .withWatermark("event_time", SLIDE_WATERMARK)
        .groupBy(F.window("event_time", SLIDE_WINDOW, SLIDE_STEP), "metric")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            floor_round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    out = os.path.join(work_dir, "slide_out")
    ckpt = os.path.join(work_dir, "slide_ckpt")
    # complete-mode result published per trigger: append mode only flushes a
    # window once the watermark passes its END, so an availableNow
    # drain would hold back every window inside the late-data horizon
    # — complete mode emits the full aggregate each trigger (in
    # production the sink runs append and those windows flush as the
    # stream advances; the semantics checked here are identical)
    drain(
        windowed, ckpt, mode="complete", state_src=(os.path.join(sf_dir, "events.parquet"),),
        foreach_batch=lambda batch, _id: publish_frame(out, lambda _cur: batch),
    )
    res = read_store(spark, out)
    return res.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start"),
        "metric",
        "n_events",
        "sum_value",
    )


#: batch twin: every event lands in the window starting at its hour and
#: the one starting an hour earlier
STREAMING_SLIDING_ORACLE_TEMPLATE = """
WITH bronze AS ({bronze}),
expanded AS (
    SELECT metric, value, unix_ts - unix_ts % 3600 AS window_start FROM bronze
    UNION ALL
    SELECT metric, value, (unix_ts - unix_ts % 3600) - 3600 AS window_start FROM bronze
)
SELECT window_start, metric,
       count(*) AS n_events,
       floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value
FROM expanded
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# stream-stream interval join
# --------------------------------------------------------------------------

def streaming_interval_join(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join — the canonical
    Structured Streaming join: two live streams joined on an equi-key
    plus an event-time range condition, each side buffering state only
    until the other side's watermark passes the interval bound
    (state O(window), not O(stream)).

    Instantiation: error events correlated to the same user's click
    within the preceding hour — the "did an error follow this click"
    triage join a telemetry platform runs between its interaction and
    error feeds.  Both feeds stream from the landing dir as separate
    readStreams.  Drained with availableNow, the pairs equal the batch
    inner interval join — the SQL oracle.
    """
    land = os.path.join(work_dir, "ssj_landing")
    os.makedirs(land, exist_ok=True)
    _stage_parquet(os.path.join(sf_dir, "events.parquet"), land, "events.parquet")
    schema = load_table(spark, sf_dir, "events").schema
    clicks = (
        landing_stream(spark, land, schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_event_id"),
            "user_id",
            F.col("ts").alias("click_time"),
        )
        .withWatermark("click_time", "48 hours")
    )
    errors = (
        landing_stream(spark, land, schema)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("error_time"),
            F.col("value").alias("error_value"),
        )
        .withWatermark("error_time", "48 hours")
    )
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user_id"))
        & (F.col("error_time") >= F.col("click_time"))
        & (F.col("error_time") < F.col("click_time") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "click_event_id",
        "user_id",
        F.unix_timestamp("click_time").alias("click_ts"),
        F.unix_timestamp("error_time").alias("error_ts"),
        "error_value",
    )
    out = os.path.join(work_dir, "ssj_out")
    ckpt = os.path.join(work_dir, "ssj_ckpt")
    drain(joined, ckpt, path=out, state_src=(os.path.join(sf_dir, "events.parquet"),))
    return spark.read.parquet(out)


#: batch twin of the drained click→error interval join.  The range
#: condition compares MICROSECOND epochs — the engine joins the raw
#: event-time timestamps (sub-second precision), so an oracle that
#: compared the floored-second projection columns would disagree on
#: any sub-second or exact-hour-boundary pair; only the OUTPUT
#: click_ts/error_ts columns floor to seconds, matching the engine's
#: unix_timestamp projection.
STREAMING_INTERVAL_JOIN_ORACLE = """
WITH c AS (
    SELECT event_id AS click_event_id, user_id,
           epoch_us(ts) AS click_us,
           (epoch_us(ts) // 1000000) AS click_ts
    FROM events WHERE event_type = 'click'
),
e AS (
    SELECT user_id, epoch_us(ts) AS error_us,
           (epoch_us(ts) // 1000000) AS error_ts, value AS error_value
    FROM events WHERE event_type = 'error'
)
SELECT c.click_event_id, c.user_id, c.click_ts, e.error_ts, e.error_value
FROM c JOIN e
  ON c.user_id = e.user_id
 AND e.error_us >= c.click_us
 AND e.error_us < c.click_us + 3600000000
"""


# --------------------------------------------------------------------------
# streaming dead-letter split
# --------------------------------------------------------------------------


def streaming_quarantine_split(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Streaming dead-letter split: route each micro-batch of the raw
    feed through the same `bronze_quarantine` validation gate the
    batch path uses, landing survivors and rejects in SEPARATE sinks
    (rejects partitioned by reason — the replayable dead-letter queue
    of a production ingest).

    One `foreachBatch` performs both writes so a batch commits to the
    two sinks under a single checkpointed epoch (the two-sink analog
    of the reference's per-provider ingest filters, which simply drop
    these records on the floor — `Part2 ….scala:52`).  Batch==stream
    code: the router is the identical function.

    Replay idempotency: each micro-batch lands through
    :func:`~.sinks.land_batch` (``batch=<id>``, overwrite), so a
    checkpoint restart that re-delivers a partially committed batch
    rewrites its own directories instead of double-appending to shared
    sinks.  The DLQ keeps its
    reason-partitioned layout inside each batch directory via a
    duplicated ``reason_dir`` partition column (the data column rides
    in the files, so the recursive read-back loses nothing).

    Returns both sinks read back and unioned — the driver oracle is
    the batch `bronze_quarantine` SQL, proving the split is lossless
    and the routing deterministic.
    """
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest.bronze import bronze_quarantine

    ok_dir = os.path.join(work_dir, "bronze_ok")
    dlq_dir = os.path.join(work_dir, "dead_letter")
    ckpt = os.path.join(work_dir, "quarantine_ckpt")
    mapping = dm.metric_mapping(spark)
    raw = events_stream(spark, sf_dir, work_dir)

    def split_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = bronze_quarantine(batch_df, mapping).persist()
        try:
            land_batch(routed.filter(F.col("route") == "bronze"), ok_dir, batch_id)
            land_batch(
                routed.filter(F.col("route") == "quarantine").withColumn(
                    "reason_dir", F.col("reason")
                ),
                dlq_dir, batch_id, partition_by="reason_dir",
            )
        finally:
            routed.unpersist()

    drain(raw, ckpt, foreach_batch=split_batch)
    cols = ["event_id", "serial", "metric", "value", "unix_ts", "datestamp", "reason", "route"]
    # an all-ok (or all-quarantine) drain leaves the other lake empty
    q_schema = bronze_quarantine(raw, mapping).schema
    return read_batch_lake(spark, ok_dir, q_schema).select(*cols).unionByName(
        read_batch_lake(spark, dlq_dir, q_schema).select(*cols)
    )


# --------------------------------------------------------------------------
# incremental multi-grain rollup maintenance (streaming GROUPING SETS)
# --------------------------------------------------------------------------

_GS_KEYS = ["grain", "bucket", "remote_id", "metric_id", "provider_id", "category_id"]


def streaming_grouping_sets(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The one-pass hour+day+month rollup maintained INCREMENTALLY
    under a stream — the production cadence of ``Gold Aggregation/
    Step 05``'s three serving tables, collapsed to one store:

    - each micro-batch runs the medallion chain (bronze parse →
      dedup → silver → gold) and reduces its delta to UNROUNDED
      per-grain partials via the same GROUPING SETS expansion the
      batch operator uses (one scan of the delta, Expand ×3, one
      partial-agg shuffle);
    - the partials are associative (sum/min/max/count — avg derives at
      the read edge), so the store merge is a key-grouped re-aggregate
      of O(delta + touched keys), never a rescan of history;
    - the drained store equals batch
      :func:`~..operators.rollup.rollup_grouping_sets` row-for-row
      (pytest-pinned; the driver checks against the same SQL oracle).

    Sum/count partials are additive, NOT idempotent, so like the CMS
    store :func:`_fold_store` publishes each version with its batch id:
    a replayed id is skipped, and a crash mid-rewrite leaves the
    previous version for the replay to merge into.
    """
    from telemetry_streaming_datalake_spark.datamodel import (
        metric_mapping,
        remote_history,
    )
    from telemetry_streaming_datalake_spark.ingest.bronze import dedup_exact
    from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold

    raw = events_stream(spark, sf_dir, work_dir, max_files_per_trigger)
    mapping = metric_mapping(spark)
    history = remote_history(spark, load_table(spark, sf_dir, "customer"))
    store_path = os.path.join(work_dir, "gs_store")
    ckpt = os.path.join(work_dir, "gs_ckpt")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        gold = enrich_gold(to_silver(dedup_exact(parse_bronze(batch_df)), mapping), history)
        eligible = gold.filter(
            F.col("agg_type").isin("SUM", "AVG") & (F.col("value_double") != 0)
        )
        v = F.col("value_double").cast("double")
        pre = (
            eligible.withColumn("hour_ts", F.col("unix_ts") - F.col("unix_ts") % 3600)
            .withColumn("day_ts", F.col("unix_ts") - F.col("unix_ts") % 86400)
            .withColumn("month_key", F.substring("datestamp", 1, 7))
        )
        grouped = pre.groupingSets(
            [["hour_ts", "remote_id", "metric_id", "provider_id", "category_id"],
             ["day_ts", "remote_id", "metric_id", "provider_id", "category_id"],
             ["month_key", "remote_id", "metric_id", "provider_id", "category_id"]],
            "hour_ts", "day_ts", "month_key",
            "remote_id", "metric_id", "provider_id", "category_id",
        ).agg(
            # exact decimal partial (see operators.rollup._rollup):
            # batch-merge order can never move the 6dp edge round
            F.sum(F.col("value_double").cast("decimal(38,6)")).alias("p_sum"),
            F.min(v).alias("p_min"),
            F.max(v).alias("p_max"),
            F.count(F.lit(1)).alias("p_n"),
            F.grouping("hour_ts").alias("_g_hour"),
            F.grouping("day_ts").alias("_g_day"),
        )
        delta = grouped.select(
            F.when(F.col("_g_hour") == 0, F.lit("HOUR"))
            .when(F.col("_g_day") == 0, F.lit("DAY"))
            .otherwise(F.lit("MONTH"))
            .alias("grain"),
            F.coalesce(
                F.when(F.col("_g_hour") == 0, F.col("hour_ts").cast("string")),
                F.when(F.col("_g_day") == 0, F.col("day_ts").cast("string")),
                F.col("month_key"),
            ).alias("bucket"),
            "remote_id", "metric_id", "provider_id", "category_id",
            "p_sum", "p_min", "p_max", "p_n",
        )
        _fold_store(store_path, delta, batch_id, _GS_KEYS, [
            F.sum("p_sum").alias("p_sum"),
            F.min("p_min").alias("p_min"),
            F.max("p_max").alias("p_max"),
            F.sum("p_n").alias("p_n"),
        ])

    drain(raw, ckpt, foreach_batch=merge_batch)
    return read_store(spark, store_path).select(
        "grain", "bucket", "remote_id", "metric_id", "provider_id", "category_id",
        floor_round(F.col("p_sum").cast("double"), 6).alias("sum_value"),
        floor_round(F.col("p_sum").cast("double") / F.col("p_n"), 6).alias("avg_value"),
        floor_round(F.col("p_min"), 6).alias("min_value"),
        floor_round(F.col("p_max"), 6).alias("max_value"),
        F.col("p_n").alias("n_points"),
        F.concat_ws(
            "|", "grain",
            F.col("remote_id").cast("string"), "bucket",
            F.col("metric_id").cast("string"),
            F.col("provider_id").cast("string"),
            F.col("category_id").cast("string"),
        ).alias("id"),
    )


def _fold_store(store: str, delta: DataFrame, batch_id: int | None, keys, aggs) -> None:
    """Fold ``delta`` into a store (keyed re-aggregate of stored ∪
    delta) as a new version.  With ``batch_id`` the version commits
    with it and a replayed id is skipped, so an additive store's adds
    land exactly once; an idempotent merge passes None."""
    publish_frame(
        store,
        lambda cur: delta if cur is None else (
            delta.sparkSession.read.parquet(cur)
            .unionByName(delta)
            .groupBy(*keys)
            .agg(*aggs)
        ),
        batch_id=batch_id,
    )


# --------------------------------------------------------------------------
# streaming corpus curation gate (documents feed → keep/reject lakes)
# --------------------------------------------------------------------------


def gate_and_land_batch(
    batch_df: DataFrame, keep_dir: str, rej_dir: str, batch_id: int
) -> None:
    """One micro-batch of the corpus gate: apply the Gopher rules and
    land keepers/rejects through :func:`~.sinks.land_batch`.
    Re-invoking with the same ``batch_id`` (checkpoint replay after a
    mid-commit crash) rewrites the same directories — exactly once per
    batch id, never a double append."""
    from telemetry_streaming_datalake_spark.operators.text import gopher_filter

    gated = gopher_filter(batch_df).persist()
    # the split must PARTITION the batch: a NULL keep (text-less doc —
    # every rule comparison is NULL) matches neither `keep` nor
    # `~keep`, so without the coalesce such docs vanished from both
    # lakes (caught by the NULL-text fuzz corpus); they are rejects
    keep_eff = F.coalesce(F.col("keep"), F.lit(False))
    try:
        land_batch(gated.filter(keep_eff), keep_dir, batch_id)
        land_batch(gated.filter(~keep_eff), rej_dir, batch_id)
    finally:
        gated.unpersist()


def streaming_corpus_gate(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """The LLM-corpus twin of :func:`streaming_quarantine_split`: a
    documents feed streams through the SAME Gopher-rules gate the
    batch path uses (`text.gopher_filter`), each micro-batch landing
    keepers and rejects in separate lakes under one checkpointed
    epoch — how a crawl-ingest pipeline actually gates documents
    before anything expensive (dedup, embedding) sees them.

    Batch==stream code: the gate is the identical map-only function,
    so the drained union equals the batch gate row-for-row (the
    driver oracle).

    Replay idempotency: each micro-batch lands through
    :func:`~.sinks.land_batch`, so a re-delivered batch rewrites its
    own directory instead of double-appending.
    """
    from telemetry_streaming_datalake_spark.operators.text import gopher_filter

    src = os.path.join(sf_dir, "documents.parquet")
    landing = os.path.join(work_dir, "docs_landing")
    os.makedirs(landing, exist_ok=True)
    _stage_parquet(src, landing, "documents.parquet")
    raw = landing_stream(spark, landing, spark.read.parquet(src).schema)

    keep_dir = os.path.join(work_dir, "corpus_keep")
    rej_dir = os.path.join(work_dir, "corpus_reject")
    ckpt = os.path.join(work_dir, "gate_ckpt")

    drain(
        raw, ckpt,
        foreach_batch=lambda batch_df, batch_id: gate_and_land_batch(
            batch_df, keep_dir, rej_dir, batch_id
        ),
    )
    cols = [
        "doc_id", "source", "n_words", "mean_word_len", "alpha_word_frac",
        "stop_hits", "pass_word_count", "pass_word_len", "pass_alpha_frac",
        "pass_stopwords", "keep",
    ]
    # either lake may be empty (all-keep or all-reject corpora write no
    # parquet footers to the other side)
    gate_schema = gopher_filter(raw).schema
    return read_batch_lake(spark, keep_dir, gate_schema).select(*cols).unionByName(
        read_batch_lake(spark, rej_dir, gate_schema).select(*cols)
    )


# --------------------------------------------------------------------------
# streaming EWMA (bounded-tail state, exact batch parity)
# --------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = (
    "serial string, metric string, unix_ts long, value double, ewma double"
)
_EWMA_STATE_SCHEMA = "n_seen long, last_ts long, tail array<double>"


def _ewma_state_fn(key, pdfs, state):
    """Per-(serial, metric) finite-horizon EWMA with the trailing
    K-1 readings carried as state — the bounded-state form IS the
    batch operator's semantics, so the drained stream equals
    ``operators.derived.ewma_smooth`` row for row (same weight
    literals, same multiply/add order, and the same floor-form
    rounding — `derived.floor_round` is plain IEEE arithmetic, so
    `math.floor` here IS the batch expression bit-for-bit).

    DELIVERY-ORDER CONTRACT: rows at or before the last processed
    timestamp of their series are dropped (within a micro-batch that
    implements dedup_exact's keep-lowest-event_id rule, because the
    chunk is sorted on (unix_ts, event_id) first; ACROSS micro-batches
    it means exact batch parity requires per-series nondecreasing
    event time between batches — a reading arriving in a later batch
    with an older timestamp is discarded where the batch operator
    would fold it in, and a cross-batch duplicate keeps the
    FIRST-BATCH row regardless of event_id).  The availableNow file
    feeds here deliver time-ordered files, so the precondition holds;
    an out-of-order production feed should land through the
    watermarked bronze dedup first and recompute from silver."""
    import math

    import pandas as pd

    from telemetry_streaming_datalake_spark.operators.derived import (
        _EWMA_APOW,
        _EWMA_POW,
        EWMA_HORIZON as K,
    )

    if state.exists:
        n_seen, last_ts, tail = state.get
        tail = list(tail)
    else:
        n_seen, last_ts, tail = 0, None, []
    out = []
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        whole = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(["unix_ts", "event_id"])
            .drop_duplicates("unix_ts", keep="first")
        )
        for r in whole.itertuples(index=False):
            ts, v = int(r.unix_ts), float(r.value)
            if last_ts is not None and last_ts >= 0 and ts <= last_ts:
                continue
            n_seen += 1
            win = (tail + [v])[-min(n_seen, K):]
            L = len(win)
            s = None
            for i in range(1, L + 1):
                w = (
                    _EWMA_POW[L - 1]
                    if (i == 1 and n_seen <= K)
                    else _EWMA_APOW[L - i]
                )
                t = win[i - 1] * w
                s = t if s is None else s + t
            ewma = math.floor(s * 1e6 + 0.5) / 1e6
            out.append([key[0], key[1], ts, v, ewma])
            tail = (tail + [v])[-(K - 1):]
            last_ts = ts
    state.update((n_seen, last_ts if last_ts is not None else -1, tail))
    cols = ["serial", "metric", "unix_ts", "value", "ewma"]
    yield pd.DataFrame(out, columns=cols)


def streaming_ewma(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of ``operators.derived.ewma_smooth``: the
    trailing horizon rides in ``applyInPandasWithState`` state (≤ K-1
    doubles + two longs per series — O(distinct series) no matter how
    long the stream runs), hash-partitioned on the series key (the one
    exchange the batch window also takes).  Because the batch operator
    is ALREADY the bounded-horizon form, stream and batch agree
    exactly — the drained ``availableNow`` result shares the batch
    key's SQL oracle, and ``maxFilesPerTrigger=1`` exercises the
    cross-batch tail carry (``tests/test_streaming.py``)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    bronze = parse_bronze(events_stream(spark, sf_dir, work_dir, max_files_per_trigger))
    smoothed = bronze.groupBy("serial", "metric").applyInPandasWithState(
        _ewma_state_fn,
        EWMA_OUTPUT_SCHEMA,
        _EWMA_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    out = os.path.join(work_dir, "ewma_out")
    ckpt = os.path.join(work_dir, "ewma_ckpt")
    drain(smoothed, ckpt, path=out)
    return spark.read.parquet(out)


def streaming_ohlc(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of ``operators.derived.downsample_ohlc``: the
    per-series hourly OHLC maintained as a watermarked tumbling-window
    aggregate — ``min_by``/``max_by`` are algebraic, so open/close
    partials merge across micro-batches exactly like sum/count and the
    chart-resolution store updates incrementally as readings arrive
    (the serving-side form of downsampling: the raw points never land,
    only the OHLC rows do).

    Over a drained ``availableNow`` feed every window holds its final
    value, so the result equals the batch operator — which is the SQL
    oracle (same complete-mode drain note as
    :func:`streaming_sliding_counts`: append mode would hold back
    windows inside the late-data horizon at end-of-feed).

    The oracle's batch twin takes ``dedup_exact`` input, so the stream
    must dedup too (a duplicated reading would inflate ``n``/``mean``
    and make the ``min_by`` open/close ties nondeterministic).  A
    windowed aggregate can't chain behind ``dropDuplicates`` in
    complete mode (one stateful operator per complete-mode query), so
    this runs the medallion shape the reference itself uses: hop 1
    drains the watermarked-dedup bronze to parquet (exactly
    :func:`streaming_bronze`'s pipeline), hop 2 streams THAT table
    into the OHLC aggregate — each query carries one stateful
    operator, and the intermediate table is the silver layer a serving
    pipeline would persist anyway.
    """
    silver, silver_dir = deduped_lake_stream(
        spark, sf_dir, work_dir, "ohlc", max_files_per_trigger
    )
    windowed = (
        silver.withColumn("event_time", F.timestamp_seconds(F.col("unix_ts")))
        .withWatermark("event_time", DEDUP_WATERMARK)
        .groupBy(F.window("event_time", "1 hour"), "serial", "metric")
        .agg(
            F.min_by("value", "unix_ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "unix_ts").alias("close"),
            floor_round(F.avg("value"), 6).alias("mean"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    out = os.path.join(work_dir, "ohlc_out")
    ckpt = os.path.join(work_dir, "ohlc_ckpt")
    drain(
        windowed, ckpt, mode="complete", state_src=(silver_dir,),
        foreach_batch=lambda batch, _id: publish_frame(out, lambda _cur: batch),
    )
    res = read_store(spark, out)
    return res.select(
        "serial",
        "metric",
        F.unix_timestamp(F.col("window.start")).alias("bucket_ts"),
        "open",
        "high",
        "low",
        "close",
        "mean",
        "n",
    )


# --------------------------------------------------------------------------
# streaming approximate-distinct rollup (mergeable HLL store)
# --------------------------------------------------------------------------

HLL_STREAM_LG_K = 14


def _merge_hll_store(store: str, agg: DataFrame) -> None:
    """Serving-store sketch merge: sketch(stored) ∪ sketch(delta) per
    (metric, datestamp) — the mergeable-sketch discipline that makes
    distinct counting incremental at 100 TB (the store holds one
    bounded sketch per key, never raw serials).

    Replay idempotency comes from the ALGEBRA, not from batch-id
    bookkeeping: HLL union is idempotent (A ∪ A = A — a sketch records
    register maxima), so a checkpoint restart that re-delivers a
    micro-batch merges the same sketch again with zero effect — the
    one fold here that publishes without a batch id (pinned in
    ``tests/test_streaming.py``).  A crash mid-merge leaves the previous
    version current (:func:`~.sinks.publish_frame`), so the replayed
    batch re-merges into it."""
    _fold_store(
        store, agg, None, ["metric", "datestamp"],
        [F.hll_union_agg("sketch").alias("sketch")],
    )


def streaming_approx_distinct(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of the HLL approx-distinct rollup: each
    micro-batch reduces to per-(metric, day) sketches and the serving
    store merges them with ``hll_union_agg`` — union at one lgConfigK
    is lossless, so the store's final estimate equals the batch sketch
    over the whole feed no matter how the stream was chopped into
    batches (pinned in ``tests/test_streaming.py``).

    The registered output is audit-shaped (the r7 gate-twin pattern):
    per group, the EXACT distinct-serial count plus a ``within_tol``
    flag asserting the streamed sketch landed inside the ±3% accuracy
    contract — estimates themselves are engine-specific and stay out
    of the hash-compared relation.
    """
    bronze = parse_bronze(events_stream(spark, sf_dir, work_dir, max_files_per_trigger))
    store = os.path.join(work_dir, "hll_store")
    ckpt = os.path.join(work_dir, "hll_ckpt")

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        agg = batch_df.groupBy("metric", "datestamp").agg(
            F.hll_sketch_agg("serial", F.lit(HLL_STREAM_LG_K)).alias("sketch")
        )
        _merge_hll_store(store, agg)

    drain(bronze, ckpt, foreach_batch=merge)
    estimates = read_store(spark, store).select(
        "metric",
        F.col("datestamp").alias("bucket"),
        F.hll_sketch_estimate("sketch").alias("approx"),
    )
    exact = (
        parse_bronze(load_table(spark, sf_dir, "events"))
        .groupBy("metric", F.col("datestamp").alias("bucket"))
        .agg(F.countDistinct("serial").alias("n_serials_exact"))
    )
    return estimates.join(exact, ["metric", "bucket"]).select(
        "metric",
        "bucket",
        "n_serials_exact",
        (
            F.abs(F.col("approx") - F.col("n_serials_exact"))
            <= 0.03 * F.col("n_serials_exact")
        ).alias("within_tol"),
    )


# --------------------------------------------------------------------------
# streaming CUSUM (frozen control limits, exact integer drift state)
# --------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = (
    "serial string, metric string, unix_ts long, value double, "
    "cusum_pos double, cusum_neg double, is_change boolean"
)
_CUSUM_STATE_SCHEMA = (
    "last_ts long, cum_pos long, min_pos long, cum_neg long, min_neg long"
)


def _cusum_state_fn_factory(moments: dict):
    """Build the per-(serial, metric) CUSUM state function for a FIXED
    control-limit table (metric → rounded mean/std) — the production
    control-chart shape: limits freeze on a baseline, the drift state
    runs forever.  State is four INTEGERS at 1e7 scale (cumsum and its
    running min, both sides), so drained stream == batch bit-for-bit —
    the same exactness argument as the batch operator, carried across
    micro-batches.  Same delivery-order contract as
    :func:`_ewma_state_fn`: per-series event time must not decrease
    across micro-batches (late rows are dropped, not folded)."""

    from telemetry_streaming_datalake_spark.operators.derived import (
        CUSUM_H,
        CUSUM_K,
    )

    def fn(key, pdfs, state):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        mean6, std6 = moments.get(key[1], (None, None))
        if state.exists:
            last_ts, cum_p, min_p, cum_n, min_n = state.get
        else:
            last_ts, cum_p, min_p, cum_n, min_n = -1, 0, 0, 0, 0
        out = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks and std6 is not None:
            whole = (
                pd.concat(chunks, ignore_index=True)
                .sort_values(["unix_ts", "event_id"])
                .drop_duplicates("unix_ts", keep="first")
            )
            h_limit = CUSUM_H * std6
            for r in whole.itertuples(index=False):
                ts, v = int(r.unix_ts), float(r.value)
                if last_ts >= 0 and ts <= last_ts:
                    continue
                # HALF_UP over shortest repr == Spark's round()
                d_p = int(
                    Decimal(repr((v - mean6 - CUSUM_K * std6) * 1e7)).quantize(
                        Decimal("1"), ROUND_HALF_UP
                    )
                )
                d_n = int(
                    Decimal(repr((mean6 - v - CUSUM_K * std6) * 1e7)).quantize(
                        Decimal("1"), ROUND_HALF_UP
                    )
                )
                cum_p += d_p
                min_p = min(min_p, cum_p)
                cum_n += d_n
                min_n = min(min_n, cum_n)
                s_p = float(
                    Decimal(repr((cum_p - min(min_p, 0)) / 1e7)).quantize(
                        Decimal("0.0000001"), ROUND_HALF_UP
                    )
                )
                s_n = float(
                    Decimal(repr((cum_n - min(min_n, 0)) / 1e7)).quantize(
                        Decimal("0.0000001"), ROUND_HALF_UP
                    )
                )
                out.append(
                    [key[0], key[1], ts, v, s_p, s_n, s_p > h_limit or s_n > h_limit]
                )
                last_ts = ts
        state.update((last_ts, cum_p, min_p, cum_n, min_n))
        cols = [
            "serial", "metric", "unix_ts", "value",
            "cusum_pos", "cusum_neg", "is_change",
        ]
        yield pd.DataFrame(out, columns=cols)

    return fn


def streaming_cusum(
    spark: SparkSession, sf_dir: str, work_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of ``operators.derived.cusum_changepoint``:
    control limits come from ONE batch pass over the landed feed
    (rounded exactly like the batch operator's moments), then the
    drift statistics run as integer ``applyInPandasWithState`` state —
    four longs per series, O(distinct series) forever.  Integer
    accumulation makes the drained stream equal the batch operator
    exactly, so the key shares its SQL oracle; ``maxFilesPerTrigger=1``
    pins the cross-batch drift carry."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from telemetry_streaming_datalake_spark.operators.derived import floor_round

    raw = events_stream(spark, sf_dir, work_dir, max_files_per_trigger)
    base = (
        spark.read.parquet(os.path.join(work_dir, "landing"))
        if max_files_per_trigger
        else load_table(spark, sf_dir, "events")
    )
    # moments over DEDUPED bronze — the batch twin freezes its control
    # limits on dedup_exact input, and a duplicated reading here would
    # shift mean/std away from the oracle's
    moments = {
        r.metric: (r.mean_value, r.std_value)
        for r in dedup_exact(parse_bronze(normalize_nano_ts(base, "ts")))
        .groupBy("metric")
        .agg(
            floor_round(F.avg("value"), 6).alias("mean_value"),
            floor_round(F.stddev_samp("value"), 6).alias("std_value"),
        )
        .collect()
    }
    flagged = parse_bronze(raw).groupBy("serial", "metric").applyInPandasWithState(
        _cusum_state_fn_factory(moments),
        CUSUM_OUTPUT_SCHEMA,
        _CUSUM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    out = os.path.join(work_dir, "cusum_out")
    ckpt = os.path.join(work_dir, "cusum_ckpt")
    drain(flagged, ckpt, path=out)
    return spark.read.parquet(out)


# --------------------------------------------------------------------------
# streaming SLO burn-rate alerting
# --------------------------------------------------------------------------


def streaming_slo_burn(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Streaming twin of ``operators.detect.slo_burn_alerts`` — burn
    alerting is the canonical *streaming* concern (a page should fire
    minutes after the condition holds, not at the next batch), and the
    operator splits exactly along the streaming seam: the fact-heavy
    stage (hourly count + error count) is ALGEBRAIC, so a watermarked
    tumbling-window aggregate maintains the identical hourly frame
    incrementally; the rolling frames / burn ratios / gates are a
    dimension-sized view over that store, recomputed per refresh by
    the SAME code the batch operator runs (`detect.slo_rolling` —
    bit-exact parity by construction, not by reimplementation).

    Medallion shape as in :func:`streaming_ohlc`: hop 1 drains the
    watermarked hash-key dedup into the silver table (one stateful op
    per query; the oracle's batch twin takes ``dedup_exact`` input so
    the stream must dedup too), hop 2 streams that table into the
    tumbling hourly aggregate, and the drained store feeds
    ``slo_rolling``.  Over an ``availableNow`` drain every window
    holds its final value, so the result equals the batch operator
    row-for-row (pinned in pytest).
    """
    from telemetry_streaming_datalake_spark.operators.detect import slo_rolling

    silver, silver_dir = deduped_lake_stream(spark, sf_dir, work_dir, "slo")
    windowed = (
        silver.withColumn("event_time", F.timestamp_seconds(F.col("unix_ts")))
        .withWatermark("event_time", DEDUP_WATERMARK)
        .groupBy(F.window("event_time", "1 hour"))
        .agg(
            F.max("hourstamp").alias("hourstamp"),
            F.count(F.lit(1)).alias("n_1h"),
            F.sum(F.when(F.col("metric") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("err_1h"),
        )
    )
    out = os.path.join(work_dir, "slo_hourly_out")
    ckpt = os.path.join(work_dir, "slo_ckpt")
    drain(
        windowed, ckpt, mode="complete", state_src=(silver_dir,),
        foreach_batch=lambda batch, _id: publish_frame(out, lambda _cur: batch),
    )
    hourly = read_store(spark, out).select(
        F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
        "hourstamp",
        "n_1h",
        "err_1h",
        (F.unix_timestamp(F.col("window.start")) / 3600).cast("bigint").alias(
            "hour_idx"
        ),
    )
    return slo_rolling(hourly)


def streaming_cdc_apply(
    spark: SparkSession, sf_dir: str, work_dir: str
) -> DataFrame:
    """Streaming twin of ``operators.merge.cdc_apply`` — the serving
    store maintained live from a CDC feed, tombstones included (the
    delete posture ``streaming_stateful_latest`` lacks).  The fold is
    ALGEBRAIC (struct max + counts — `merge.cdc_agg_cols`, shared with
    the batch operator), so micro-batch partials merge to exactly the
    batch answer; the tombstone filter + projection run per refresh by
    the batch `cdc_project` over the folded state — parity by
    construction, drained == batch pinned in pytest.

    Same medallion shape as the other twins: hop 1 drains the
    watermarked hash-key dedup to silver (the oracle's batch twin
    takes ``dedup_exact`` input), hop 2 streams that table through the
    map-only op tagging into the keyed fold.  State is O(|keys|) —
    dimension-sized by the same argument as the batch operator's
    output.
    """
    from telemetry_streaming_datalake_spark.operators.merge import (
        cdc_agg_cols,
        cdc_ops,
        cdc_project,
    )

    silver, silver_dir = deduped_lake_stream(spark, sf_dir, work_dir, "cdc")
    folded = cdc_ops(silver).groupBy("serial", "metric").agg(*cdc_agg_cols())
    out = os.path.join(work_dir, "cdc_state_out")
    ckpt = os.path.join(work_dir, "cdc_ckpt")
    drain(
        folded, ckpt, mode="complete", state_src=(silver_dir,),
        foreach_batch=lambda batch, _id: publish_frame(out, lambda _cur: batch),
    )
    return cdc_project(read_store(spark, out))


# --------------------------------------------------------------------------
# streaming count-min frequency sketch (cell-wise-additive serving store)
# --------------------------------------------------------------------------


def _merge_cms_store(store: str, cells: DataFrame, batch_id: int) -> None:
    """Fold a micro-batch's CMS cell partials into the serving store:
    merge = cell-wise ADD (``cms_sketch`` counts are additive), so the
    stored sketch after any batch chopping equals the single batch
    sketch over the union EXACTLY — the frequency-domain sibling of
    ``_merge_hll_store``.

    The load-bearing difference from the HLL store: union of HLL
    register maxima is IDEMPOTENT (replays merge with zero effect),
    but cell-wise addition is NOT — a replayed batch would double-
    count, so each version commits with its batch id and a replayed
    id is skipped (:func:`_fold_store`).  Crash before the swap: the
    old version and its id stay current and the replay re-merges.
    """
    _fold_store(
        store, cells, batch_id, ["row_idx", "col_idx"],
        [F.sum("cell_count").alias("cell_count")],
    )


def streaming_freq_sketch(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of the count-min frequency sketch: each
    micro-batch reduces to its d×w cell partials (the same bounded
    ``cms_sketch`` reduction as batch — per-task shuffle output capped
    at sketch size) and ``foreachBatch`` folds them into the versioned
    store.  Cell addition over any batch chopping equals the single
    batch sketch exactly, so the drained store audits through
    ``freq_sketch_audit`` — the SAME code path and relation as the
    batch key, pinned bit-identical in ``tests/test_streaming.py``.

    Cross-batch duplicate feeds are dropped by watermarked
    ``dropDuplicates`` state on ``unique_hash_key`` BEFORE sketching
    (per-serial multiplicities then match ``dedup_exact`` regardless
    of which duplicate survives — the hash key pins the serial), the
    same dedup parity discipline as the OHLC/CUSUM twins.
    """
    from telemetry_streaming_datalake_spark.operators.rollup import (
        cms_sketch,
        freq_sketch_audit,
    )

    store = os.path.join(work_dir, "cms_store")
    ckpt = os.path.join(work_dir, "cms_ckpt")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # pinned sketch-sized cells: the emptiness check and the merge
        # share ONE run of the batch's stateful dedup, and the
        # watermark's no-data batch (no cells) leaves the store as it
        # is instead of re-reading it into a new version.  The merge
        # runs in the micro-batch's own session, i.e. at the query's
        # state-partition count
        cells = cms_sketch(batch_df).localCheckpoint(eager=True)
        if not cells.isEmpty():
            _merge_cms_store(store, cells, batch_id)

    drain(
        streaming_bronze(spark, sf_dir, work_dir, max_files_per_trigger), ckpt,
        foreach_batch=merge,
        state_src=(os.path.join(sf_dir, "events.parquet"),),
    )
    ground = dedup_exact(parse_bronze(load_table(spark, sf_dir, "events")))
    return freq_sketch_audit(ground, sketch=read_store(spark, store))


#: hash-bucket count for the crawl seen-store: admissions land in
#: ``batch=N/bucket=B`` (B = pmod(xxhash64(canonical_url), BUCKETS)) so
#: each micro-batch's anti-join is partition-pruned to the buckets its
#: own keys touch — the `bm25_indexed`/`ann_ivf_indexed` pruned-probe
#: posture (VERDICT r13 #3).  16 at test scale; production sizes this
#: so one bucket's URL set fits an executor scan (e.g. 4096 at 10^9
#: admitted URLs).
SEEN_BUCKETS = 16
#: fold ``batch=*`` delta dirs into one compacted store every K
#: batches — bounds the store at ≤K delta dirs + 1 compacted dir
#: instead of O(batches) dirs (the million-file-listing failure mode
#: of a long-running crawl), amortizing the O(store) rewrite 1/K.
SEEN_COMPACT_EVERY = 4


def _seen_bucket_col(key_col: str = "canonical_url"):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(SEEN_BUCKETS)).cast("int")


def _seen_read(spark: SparkSession, base: str, paths: list, key_col: str) -> DataFrame:
    """(key, bucket) rows of bucket-partitioned seen-store dirs."""
    return spark.read.option("basePath", base).parquet(*paths).select(key_col, "bucket")


def _seen_compact(
    spark: SparkSession,
    seen_dir: str,
    batch_id: int,
    key_col: str = "canonical_url",
) -> None:
    """Fold the compacted store + every ``batch=j`` (j < batch_id)
    delta dir into the next version of ``<seen_dir>/compacted``,
    committed with ``batch_id`` as its fold id, then delete the folded
    deltas — the LSM fold the `compaction_plan` operator prices for
    lake tables, applied to cross-batch state.

    Replay-safe by construction: inputs are only COMMITTED batches
    (j < batch_id, and foreachBatch commits batch j before j+1 starts),
    so a replayed fold is deterministic; deletion runs strictly AFTER
    the version commits, and a replay of a committed fold (its inputs
    may be partly gone) is skipped by :func:`~.sinks.publish_version`
    — only the idempotent deletion sweep re-runs.  The deltas are
    deleted only when the current fold is THIS one: a batch replayed
    after checkpoint loss behind a later fold skips its fold and keeps
    them, since :func:`_seen_probe` then reads every delta.  Old
    compacted versions go through the publish's own sweep."""
    import shutil

    deltas = [d for j, d in landed_batches(seen_dir).items() if j < batch_id]
    if not deltas:
        return

    def build(cur: str | None) -> DataFrame:
        # no distinct: per-batch admissions are disjoint by the
        # anti-join's own contract, so the fold is a pure union.  The
        # bucket-partitioned publish keys the write on the bucket
        # (guide §6 small-files): one file per bucket, not (tasks ×
        # buckets) — the listing/open cost the compaction removes
        folded = _seen_read(spark, seen_dir, deltas, key_col)
        if cur is not None:
            folded = _seen_read(spark, cur, [cur], key_col).unionByName(folded)
        return folded

    comp = os.path.join(seen_dir, "compacted")
    if (
        publish_frame(comp, build, batch_id=batch_id, partition_by="bucket")
        or version_batch_id(current_version_dir(comp)) == batch_id
    ):
        for d in deltas:
            shutil.rmtree(d)


def _seen_probe(
    cand: DataFrame,
    seen_dir: str,
    batch_id: int,
    key_col: str = "canonical_url",
) -> DataFrame:
    """Anti-join ``cand`` (must carry ``key_col`` + ``bucket``; extra
    columns pass through the left_anti join unchanged) against every
    PRIOR batch's admissions, reading ONLY the hash buckets this
    batch's keys touch: both the compacted store and the delta dirs
    are hive-partitioned on ``bucket``, so the ``bucket IN (touched)``
    filter is a pushed PartitionFilter (plan pytest-pinned) and
    per-batch probe I/O is O(touched buckets), not O(total admitted).
    The own-batch dir is never read (replay idempotency — a replayed
    batch anti-joining its own prior output would admit nothing and
    erase its admissions)."""
    s = cand.sparkSession
    comp = current_version_dir(os.path.join(seen_dir, "compacted"))
    fold = -1 if comp is None else version_batch_id(comp)
    if fold > batch_id:  # replayed batch behind a later fold: deltas only
        comp, fold = None, -1
    # batches < fold are folded into (and deleted after) the compacted
    # store; leftover dirs from a crash mid-sweep are subsumed by it,
    # so reading them would only duplicate work
    resid = [
        d for j, d in landed_batches(seen_dir).items() if j != batch_id and j >= fold
    ]
    frames = [_seen_read(s, comp, [comp], key_col)] if comp is not None else []
    if resid:
        frames.append(_seen_read(s, seen_dir, resid, key_col))
    if not frames:
        return cand
    # bounded collect: ≤ SEEN_BUCKETS ints, never corpus-sized
    touched = [r[0] for r in cand.select("bucket").distinct().collect()]
    pruned = [f.filter(F.col("bucket").isin(touched)) for f in frames]
    seen = pruned[0]
    for f in pruned[1:]:
        seen = seen.unionByName(f)
    return cand.join(seen.select(key_col), key_col, "left_anti")


def _seen_admit(
    keys: DataFrame,
    seen_dir: str,
    batch_id: int,
    compact_every: int,
    key_col: str = "canonical_url",
) -> DataFrame:
    """The seen-store admission step of the frontier, web ingest and
    paragraph dedup: every ``compact_every`` batches fold the deltas
    (:func:`_seen_compact`), anti-join ``keys`` against every prior
    batch (:func:`_seen_probe`), land the admitted keys as this
    batch's ``batch=N/bucket=B`` delta, and return the pinned
    admissions with ``bucket``.  ``keys`` is pinned before the probe
    (it feeds the touched-bucket collect and the anti-join, so an
    aggregate behind it runs once per batch) and the probed result
    after it (it feeds the delta write and the caller's sinks)."""
    if batch_id > 0 and batch_id % compact_every == 0:
        _seen_compact(keys.sparkSession, seen_dir, batch_id, key_col)
    cand = keys.withColumn("bucket", _seen_bucket_col(key_col)).localCheckpoint(eager=True)
    fresh = _seen_probe(cand, seen_dir, batch_id, key_col)
    if fresh is not cand:
        fresh = fresh.localCheckpoint(eager=True)
    # bucket-partitioned land (guide §6): one file per touched bucket
    # instead of (tasks × buckets) — the probe's listing/open cost is
    # bounded at any batch size
    land_batch(fresh.select(key_col, "bucket"), seen_dir, batch_id, partition_by="bucket")
    return fresh


def _stage_frontier_landing(
    spark: SparkSession, sf_dir: str, work_dir: str, n_files: int
) -> str:
    """TEST/DRIVER SCAFFOLDING, not part of the frontier operator: lay
    the documents table down as ``n_files`` doc_id-range landing files
    so the availableNow drain genuinely exercises multiple batches.
    The file source orders files by MODIFICATION TIME — copies made
    within one clock tick arrive in arbitrary order, which would break
    the first-batch-wins == min-doc_id coincidence the pytest pins —
    so strictly increasing mtimes are stamped in range order
    (part-0000x of a repartitionByRange write holds the lowest
    doc_ids).  A production frontier consumes whatever landing
    directory the fetcher drops files into and has no such staging.

    r14 NEGATIVE RESULT (kept as the record): a zero-shuffle rewrite —
    deterministic equal-width ranges off one min/max aggregate, each
    range a filtered scan + coalesce(1) write from a thread pool —
    measured SLOWER in isolation at BOTH scales (0.67 vs 0.46 s at
    sf0.1, 0.74 vs 0.51 s at the 10x corpus, best-of-3): n_files+1
    small jobs cost more than the one sample+shuffle at staging sizes,
    and the filtered scans re-read the source n_files times when
    row-group pruning cannot carry the predicate.  The shuffle stays.

    The split runs on every call, into ``work_dir``.  A process cache
    of it (per source file identity and n_files) was measured at sf0.1
    on 4 cores, 6 interleaved cold processes each: best-of-3 key wall
    4.65 s median with the cache, 5.08 s without — a 0.43 s difference
    inside the cached side's 1.33 s interquartile range, so the cache
    was removed."""
    src = os.path.join(sf_dir, "documents.parquet")
    staged_src = os.path.join(work_dir, "frontier_src")
    (
        spark.read.option("mergeSchema", "false")
        .parquet(src)
        .repartitionByRange(n_files, "doc_id")
        .write.mode("overwrite")
        .parquet(staged_src)
    )
    landing = os.path.join(work_dir, "frontier_landing")
    os.makedirs(landing, exist_ok=True)
    _stage_parquet(staged_src, landing, "documents.parquet")
    # NUMERIC sort key: the staged names are '{i}_documents.parquet'
    # and lexicographic order breaks at i >= 10 ('10_' < '2_'), which
    # would silently scramble the first-batch-wins == min-doc_id
    # coincidence the oracle and pytests rely on
    for i, f in enumerate(
        sorted(os.listdir(landing), key=lambda f: int(f.split("_", 1)[0]))
    ):
        p = os.path.join(landing, f)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return landing


def streaming_url_frontier(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_files: int = 4,
    compact_every: int = SEEN_COMPACT_EVERY,
) -> DataFrame:
    """Crawl FRONTIER: URLs arrive in micro-batches, each batch is
    canonicalized + blocklist-gated (`web.url_canonicalize`, identical
    batch==stream code) and only canonical URLs NEVER SEEN before —
    across ALL previous batches — are admitted for fetch.

    Cross-batch state is a persisted seen-store HASH-BUCKETED on
    ``pmod(xxhash64(canonical_url), SEEN_BUCKETS)``: each batch writes
    ``batch=N/bucket=B`` (overwrite mode), the anti-join reads ONLY
    the buckets its own keys touch (pushed PartitionFilter —
    :func:`_seen_probe`), and every ``compact_every`` batches the
    delta dirs fold into one compacted store (:func:`_seen_compact`),
    so probe I/O is O(touched buckets) and the dir count stays bounded
    instead of growing with crawl length.  Replay-idempotent: the
    probe never reads ``batch={batch_id}`` itself (anti-joining its
    own prior output would admit zero rows and erase the admissions),
    and compaction only folds committed batches into a version that
    commits with its batch id (a replayed fold is skipped).

    Landing staging lives in :func:`_stage_frontier_landing` (test/
    driver scaffolding); the operator itself is readStream →
    foreachBatch, production-shaped (pytest-pinned: drained admissions
    == batch `is_keeper` rows exactly).
    """
    from telemetry_streaming_datalake_spark.operators import web as WB

    landing = _stage_frontier_landing(spark, sf_dir, work_dir, n_files)
    raw = landing_stream(spark, landing, spark.read.parquet(landing).schema, max_files=1)
    seen_dir = os.path.join(work_dir, "frontier_seen")
    admit_dir = os.path.join(work_dir, "frontier_admit")
    ckpt = os.path.join(work_dir, "frontier_ckpt")

    def _admit(batch_df: DataFrame, batch_id: int) -> None:
        # skew-safe admission: `url_keepers` collapses a viral
        # canonical URL map-side via min-struct partial aggregation
        # (the window form's 100 TB failure mode is a single-reducer
        # straggler AQE cannot split), and unlike the dedup_via_agg
        # audit path it needs NO join back — the keeper rows ARE the
        # admission set, so the 66-rule canonical chain is analyzed
        # and evaluated once per batch (r14 opt; equality with
        # url_canonicalize's keeper rows pytest-pinned)
        admitted = _seen_admit(WB.url_keepers(batch_df), seen_dir, batch_id, compact_every)
        land_batch(admitted.drop("bucket"), admit_dir, batch_id)

    drain(raw, ckpt, foreach_batch=_admit)
    return read_batch_lake(
        spark, admit_dir, "doc_id long, source string, url string, canonical_url string"
    )


def streaming_web_ingest(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_files: int = 4,
    pin_stages: bool = False,
    compact_every: int = SEEN_COMPACT_EVERY,
) -> DataFrame:
    """The WHOLE web front door AS A STREAM — what a real crawl ingest
    looks like (VERDICT r12 #3): documents arrive in micro-batches and
    each batch runs frontier admission (canonicalize + blocklist +
    cross-batch seen-store anti-join, the `streaming_url_frontier`
    state machinery verbatim) → robots exclusion → "fetch" (the WARC
    record synthesis standing in for the fetcher) → `warc_extract`
    framing/Content-Length verification → `html_extract` over the
    PARSED body (not a re-synthesis — one wrong parsed byte upstream
    poisons ``html_md5`` and the extraction) → the Gopher quality
    gate.  Survivors land in a batchId-scoped ingest lake.

    Every stage is the batch operator's own code on O(batch) rows: one
    canonical-key shuffle, one broadcast rules join, map-only
    parse/extract/gate, doc_id equi-joins — so the drained lake equals
    the batch `web_ingest_manifest`'s ``final_keep`` rows joined to
    their extractions (the oracle; composition equality pinned in
    tests/test_streaming.py).  Cross-batch dedup keeps first-batch-
    wins == earliest-doc_id via the staged landing order, exactly the
    frontier's contract — including its hash-bucketed, periodically
    compacted seen-store (:func:`_seen_admit`: partition-pruned
    probes, bounded dir count); replays are idempotent for the same
    reason (own-batch seen dir excluded from the anti-join, a replayed
    fold skipped by its committed batch id)."""
    from telemetry_streaming_datalake_spark.operators import web as WB
    from telemetry_streaming_datalake_spark.operators.text import gopher_filter

    landing = _stage_frontier_landing(spark, sf_dir, work_dir, n_files)
    raw = landing_stream(spark, landing, spark.read.parquet(landing).schema, max_files=1)
    seen_dir = os.path.join(work_dir, "ingest_seen")
    lake_dir = os.path.join(work_dir, "ingest_lake")
    ckpt = os.path.join(work_dir, "ingest_ckpt")

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        # skew-safe admission via the join-free min-struct keeper agg
        # (viral-URL single-reducer straggler at crawl scale — see
        # streaming_url_frontier._admit for the full rationale)
        admitted = _seen_admit(
            WB.url_keepers(batch_df).select("doc_id", "canonical_url"),
            seen_dir, batch_id, compact_every,
        ).drop("bucket")
        allowed = (
            WB.robots_gate(admitted)
            .filter(F.col("robots_allowed"))
            .select("doc_id", "canonical_url")
        )
        # "fetch" + parse: WARC record per allowed doc (NULL-text docs
        # have no record — the URL exists before the fetch succeeds),
        # framing + octet-verified Content-Length gate the parse
        docs_b = batch_df.join(allowed.select("doc_id"), "doc_id")
        # ONE linear chain from synthesis to gate (r14 opt, guide
        # §2.4/§1.2): the r13 shape consumed the record frame from TWO
        # join branches (framing verdicts vs parsed body), so the WARC
        # synthesis + parse evaluated twice per batch — Catalyst shares
        # no subtree across join branches.  `warc_extract(keep_body=
        # True)` emits the verdicts AND the body in one projection, the
        # ok-filter runs BEFORE extraction (commutes with the inner
        # joins: the final row set is kept ∧ ok ∧ allowed either way,
        # and every stage in between is 1:1 per doc), `html_extract`
        # carries html_md5 through via `passthrough`, and the old
        # kept⋈ok join disappears.  pin_stages=True materializes the
        # parsed records once per batch (in production that checkpoint
        # IS the fetcher's WARC landing file); A/B at sf0.1 batch
        # sizes (~1.2k docs/batch) measured the pins SLOWER — the
        # barrier outweighs re-deriving a map-only chain on small
        # batches — so the default re-derives (BASELINE.md r13,
        # re-validated r14)
        recs = WB.attach_warc_payload(docs_b)
        parsed = WB.warc_extract(docs_b, records=recs, keep_body=True).filter(
            F.col("magic_ok") & F.col("length_ok") & (F.col("status") == 200)
        )
        if pin_stages:
            parsed = parsed.localCheckpoint(eager=True)
        ext = WB.html_extract(
            docs_b,
            payloads=parsed.select("doc_id", "source", "html", "html_md5"),
            passthrough=("html_md5",),
        )
        if pin_stages:
            ext = ext.localCheckpoint(eager=True)
        # the gate rides the SAME projection as the extraction via
        # gopher_filter's extra_cols seam (the curation_manifest
        # composition pattern; r14 opt — carried through, the whole
        # synthesis→parse→extract→gate ladder is one map-only chain
        # over the admitted batch)
        kept = (
            gopher_filter(
                ext.select(
                    "doc_id",
                    "source",
                    F.col("extracted_text").alias("text"),
                    "n_blocks",
                    "html_md5",
                ),
                extra_cols=[
                    F.col("text").alias("extracted_text"),
                    F.col("n_blocks").cast("int").alias("n_blocks"),
                    F.col("html_md5"),
                ],
            )
            .filter(F.col("keep"))
            .select("doc_id", "source", "extracted_text", "n_blocks", "html_md5")
        )
        final = kept.join(allowed, "doc_id").select(
            "doc_id",
            "source",
            "canonical_url",
            "html_md5",
            "extracted_text",
            "n_blocks",
        )
        land_batch(final, lake_dir, batch_id)

    drain(raw, ckpt, foreach_batch=_ingest)
    return read_batch_lake(
        spark, lake_dir,
        "doc_id long, source string, canonical_url string, "
        "html_md5 string, extracted_text string, n_blocks int",
    )


def streaming_web_ingest_oracle(src: str = "documents") -> str:
    """The batch `web_ingest_manifest`'s keep rows joined to their
    extractions and synthesized page hashes — composed verbatim from
    the stage oracles (`operators/web.py`)."""
    from telemetry_streaming_datalake_spark.operators import web as WB

    return f"""
WITH m AS ({WB.web_ingest_manifest_oracle(src)}),
ext AS ({WB.html_extract_oracle(src)}),
pages AS (SELECT doc_id, md5(html) AS html_md5 FROM ({WB._html_syn_sql(src)}))
SELECT m.doc_id, m.source, m.canonical_url, p.html_md5,
       e.extracted_text, e.n_blocks
FROM m
JOIN ext e USING (doc_id)
JOIN pages p USING (doc_id)
WHERE m.final_keep
"""


def streaming_paragraph_dedup(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_files: int = 4,
    compact_every: int = SEEN_COMPACT_EVERY,
) -> DataFrame:
    """CORPUS-grain C4 paragraph dedup AS A STREAM — crawl-side text
    cleaning inside the ingest topology (VERDICT r13 #7's candidate):
    each micro-batch explodes its documents into chunks
    (`para_chunk_rows`, identical batch==stream code), claims
    first-occurrence winners batch-locally with the skew-safe
    md5-keyed agg (the `paragraph_dedup(dedup_via_agg=True,
    key_by_hash=True)` production path — a viral boilerplate chunk
    collapses map-side), drops every chunk whose hash ANY prior batch
    already claimed (the frontier's bucketed chunk-hash store:
    :func:`_seen_admit` keyed on ``chunk_md5``, partition-pruned to
    touched buckets, periodically folded), and re-emits the
    batch's documents with surviving chunks re-joined in order
    (`para_reassemble`).

    The staged landing arrives in doc_id order, so cross-batch
    first-batch-wins == the batch operator's global min-(doc_id, idx)
    winner and the drained rewrite equals `paragraph_dedup` EXACTLY
    (identical oracle; equality pytest-pinned).  Replay-idempotent
    via the store contract itself: the probe never reads the
    own-batch dir, a replayed fold is skipped by its committed batch
    id, and both sinks are batchId-scoped overwrites."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    landing = _stage_frontier_landing(spark, sf_dir, work_dir, n_files)
    raw = landing_stream(spark, landing, spark.read.parquet(landing).schema, max_files=1)
    seen_dir = os.path.join(work_dir, "para_seen")
    out_dir = os.path.join(work_dir, "para_clean")
    ckpt = os.path.join(work_dir, "para_ckpt")

    def _clean(batch_df: DataFrame, batch_id: int) -> None:
        # pin the explode once: it feeds the winner agg and the
        # reassembly
        chunks = (
            DD.para_chunk_rows(batch_df)
            .withColumn("chunk_md5", F.md5("chunk"))
            .localCheckpoint(eager=True)
        )
        # ONE hash-keyed aggregate serves the winner rank, the store
        # probe AND the keep-join (guide §2.4): the winner frame has
        # exactly one row per chunk_md5, so it IS the distinct hash
        # set the probe needs — the former separate `distinct` was a
        # second full shuffle of the same keys, and carrying `__w` on
        # the probed frame makes the former winners join redundant.
        # `bucket` is recomputed post-agg (functionally dependent on
        # chunk_md5), keeping the winner shuffle at key+struct width.
        winners = chunks.groupBy("chunk_md5").agg(
            F.min(F.struct("doc_id", "idx")).alias("__w")
        )
        # hashes NO prior batch claimed; every fresh hash present in
        # this batch is claimed by its batch-local winner, so the
        # fresh set IS the store delta
        fresh = _seen_admit(winners, seen_dir, batch_id, compact_every, key_col="chunk_md5")
        ranked = chunks.join(
            fresh.select("chunk_md5", "__w").withColumn(
                "__fresh", F.lit(True)
            ),
            "chunk_md5",
            "left",
        ).withColumn(
            # non-fresh chunks (hash claimed by a prior batch) take
            # the NULL-&-NULL → coalesce FALSE arm — boolean-identical
            # to the old `coalesce(__fresh, False) & winner-equality`
            # over the inner winners join, where __fresh=NULL forced
            # FALSE with __w always bound
            "__keep",
            F.coalesce(
                F.col("__fresh")
                & (F.col("doc_id") == F.col("__w.doc_id"))
                & (F.col("idx") == F.col("__w.idx")),
                F.lit(False),
            ),
        )
        land_batch(DD.para_reassemble(ranked), out_dir, batch_id)

    drain(raw, ckpt, foreach_batch=_clean)
    return read_batch_lake(
        spark, out_dir, "doc_id long, clean_text string, n_chunks int, n_dropped int"
    )


def streaming_change_feed(
    spark: SparkSession, sf_dir: str, work_dir: str, cutoff: int = 1705276800
) -> DataFrame:
    """Silver hop driven FROM the versioned store's change feed — the
    ``startingVersion`` chaining the reference actually runs (`Gold
    state/Step 04-04b Process Gold state data Part 1.scala:42-46`
    streams the silver hop off the bronze Delta table's changes), on
    this engine's storage (VERDICT r12 #4):

    - v0: the deduped bronze's pre-cutoff slice (the history load);
    - v1: the post-cutoff delta (the incremental batch);
    - subscribe at the v0 high-water mark: ``read_changes(0)`` plans
      exactly v1's added files — no directory scan, no re-read of v0;
    - the feed lands in a directory a stream drains (the topic-drop
      posture), and each micro-batch runs the SAME silver mapping hop
      as the batch pipeline into an append lake.

    The drained lake therefore equals batch silver over the
    post-cutoff rows — the oracle (SILVER_ORACLE_TEMPLATE filtered at
    the cutoff; the filter commutes with the row-wise hop)."""
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.storage.versioned import (
        VersionedParquetStore,
    )

    # default cutoff = MERGE_CUTOFF_UNIX, the registry's split point
    ded = dedup_exact(
        parse_bronze(load_table(spark, sf_dir, "events"))
    ).localCheckpoint(eager=True)
    store = VersionedParquetStore(spark, os.path.join(work_dir, "bronze_store"))
    store.write(ded.filter(F.col("unix_ts") < cutoff), mode="append")
    high_water = store.latest_version()
    v_delta = store.write(ded.filter(F.col("unix_ts") >= cutoff), mode="append")

    # zero-copy feed (r15 opt, guide §6): a committed version's data
    # dirs are immutable, so the silver hop streams the delta commit
    # IN PLACE — the Delta change-feed-as-stream posture the reference
    # itself runs (Step 04 chains the silver hop off the bronze
    # table's changes) — saving one full write+read of the post-cutoff
    # slice.  A multi-dir commit (impossible from a single write() but
    # cheap to guard) or a commit whose write produced no parquet
    # footer falls back to landing the read_changes copy.
    dirs = store.commit_data_dirs(v_delta)
    if len(dirs) == 1 and any(
        n.endswith(".parquet") for n in os.listdir(dirs[0])
    ):
        feed_dir = dirs[0]
    else:
        feed_dir = os.path.join(work_dir, "feed_landing")
        os.makedirs(feed_dir, exist_ok=True)
        store.read_changes(high_water).drop("_commit_version").write.mode(
            "overwrite"
        ).parquet(feed_dir)

    lake_dir = os.path.join(work_dir, "silver_lake")
    ckpt = os.path.join(work_dir, "feed_ckpt")
    mapping = dm.metric_mapping(spark)

    def _hop(batch_df: DataFrame, batch_id: int) -> None:
        # a batch-id land, never a blind append: a replay after a
        # checkpoint restart re-lands the identical dir
        land_batch(to_silver(batch_df, mapping), lake_dir, batch_id)

    feed = landing_stream(spark, feed_dir, spark.read.parquet(feed_dir).schema)
    drain(feed, ckpt, foreach_batch=_hop)
    # an EMPTY delta (no commits past the high-water mark) drains zero
    # batches — the hop's empty relation, not a read error
    return read_batch_lake(spark, lake_dir, to_silver(feed, mapping).schema)


def streaming_change_feed_oracle(bronze_sql: str, cutoff: int = 1705276800) -> str:
    """Batch silver (bronze→dedup→mapping hop, SILVER_ORACLE_TEMPLATE
    verbatim) restricted to the post-cutoff rows the feed delivers."""
    from telemetry_streaming_datalake_spark.ingest.silver import (
        SILVER_ORACLE_TEMPLATE,
    )

    return (
        f"SELECT * FROM ({SILVER_ORACLE_TEMPLATE.format(bronze=bronze_sql)}) "
        f"WHERE unix_ts >= {cutoff}"
    )
