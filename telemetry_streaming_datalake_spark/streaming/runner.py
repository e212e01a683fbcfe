"""Always-on topology runner: the reference's production posture.

The reference does not run drain-and-exit jobs: every hop is a NAMED
continuous query on a ``ProcessingTime`` trigger, pinned to a fair-
scheduler pool, and the notebook's last cells watch
``spark.streams`` — e.g. ``Bronze-Silver/Part1 ….scala:66-79``::

    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "PeplinkPool1")
    ….writeStream.queryName("PeplinkQuery1")…
      .trigger(Trigger.ProcessingTime("120 seconds")).start()

This module reproduces that operational shape over the engine's
feed→bronze→silver→gold→serving topology: :class:`AlwaysOnRunner`
starts the four hops as concurrent named queries (each in its own
pool so a slow gold enrichment cannot starve ingest — the exact
reason the reference splits pools per feed), exposes
``StreamingQueryManager`` status, and stops cleanly.  The availableNow variants in
``pipeline.py`` remain the deterministic-drain twins the correctness
gate checks; the runner is the long-running deployment of the SAME
hop builders (``landing_stream``, ``bronze_dedup``, ``to_silver``,
``enrich_gold``) — one logical plan, two trigger policies, pinned by
``tests/test_plans.py::test_runner_hops_share_the_drain_plans``
(each hop's optimized plan equals its drain twin's, source path aside).

Scale notes: each hop checkpoints independently (the recovery unit is
the hop); pools map to the reference's per-feed isolation; trigger
interval is the latency/throughput knob (120 s in the reference's
bulk feeds, 30 s on the low-latency one).  Every hop starts through
``pipeline.start_stream``, the primitive the availableNow drains use.
The bronze dedup passes its landing dir as ``state_src``, so its state
partition count is fixed at the hop's FIRST start from the landing-dir
bytes (floored at 1 — a fresh runner gets one state store, so a
trickle batch commits one store and writes one file); the session conf
holds that count only for the bronze ``start()`` call, and a restart
keeps the checkpointed count.  A production feed whose dedup state
outgrows one store pins the count before that first start with
``SPARK_GRAFT_STREAM_PARTS``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from telemetry_streaming_datalake_spark.datamodel import metric_mapping, remote_history
from telemetry_streaming_datalake_spark.ingest.bronze import dedup_exact, parse_bronze
from telemetry_streaming_datalake_spark.ingest.silver import to_silver
from telemetry_streaming_datalake_spark.operators.temporal import enrich_gold
from telemetry_streaming_datalake_spark.session import load_table
from telemetry_streaming_datalake_spark.streaming.pipeline import (
    _stage_parquet,
    bronze_dedup,
    landing_stream,
    start_stream,
)

#: hop names — the queryName() handles the manager reports
BRONZE_QUERY = "bronze-hop"
SILVER_QUERY = "silver-hop"
GOLD_QUERY = "gold-hop"
SERVING_QUERY = "serving-hop"


class AlwaysOnRunner:
    """Feed→bronze→silver→gold→serving as four concurrent queries.

    ``landing_dir`` is the watched feed directory (drop parquet files
    in, the Kafka-topic analog); each hop writes an unpartitioned
    parquet lake under ``work_dir`` and the next hop streams that lake
    (the Delta-as-stream-source pattern, ``Part1 ….scala:93-96``).
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        work_dir: str,
        trigger_interval: str = "1 second",
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.trigger = trigger_interval
        self.landing_dir = os.path.join(work_dir, "landing")
        self.bronze_dir = os.path.join(work_dir, "bronze_lake")
        self.silver_dir = os.path.join(work_dir, "silver_lake")
        self.gold_dir = os.path.join(work_dir, "gold_lake")
        self.serving_dir = os.path.join(work_dir, "serving_store")
        self.queries: dict[str, StreamingQuery] = {}

    # ---------------------------------------------------------- hops

    def _start_serving(self, gold: DataFrame) -> StreamingQuery:
        """Hop 4 — the reference's serving edge (`Metric Stream to
        Cosmos/Step 06.b`): the gold lake streams into a foreachBatch
        that reduces each micro-batch to its per-key latest and lands
        it through the :class:`..sinks.ServingStoreWriter` contract
        (ItemOverwrite: the newest batch wins per key, exactly the
        reference's Cosmos write strategy — a late-arriving batch can
        regress a key, as it can in the reference)."""
        from telemetry_streaming_datalake_spark.operators.latest import latest_metric
        from telemetry_streaming_datalake_spark.streaming.sinks import (
            ParquetUpsertStore,
        )

        store = ParquetUpsertStore(self.spark, self.serving_dir, key="id")

        def upsert_latest(batch_df, batch_id):
            latest = latest_metric(batch_df).withColumn(
                "id",
                F.concat_ws("|", "remote_id", "metric_id", "provider_id"),
            )
            store.apply_batch(latest, batch_id)

        return self._start(
            SERVING_QUERY, "ServingPool", gold, foreach_batch=upsert_latest
        )

    # ------------------------------------------------------- control

    def _start(self, name: str, pool: str, df: DataFrame, **sink) -> StreamingQuery:
        # pool pinning exactly as the reference: local property at
        # start time; the query's micro-batch thread inherits it
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        q = start_stream(
            df,
            os.path.join(self.work_dir, f"ckpt_{name}"),
            name=name,
            processing_time=self.trigger,
            **sink,
        )
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        self.queries[name] = q
        return q

    def start(self) -> dict[str, StreamingQuery]:
        """Start all four hops from the pipeline's hop builders, each
        frame built once and its schema handed to the next hop's
        reader.  The downstream lakes must exist before their consumers
        start (empty dirs are fine — schemas are explicit), mirroring
        table-creation-before-stream in the reference.  Only the bronze dedup is stateful, so only
        its start passes ``state_src``: the input-sized state partition
        count holds for that ``start()`` call alone."""
        for d in (self.landing_dir, self.bronze_dir, self.silver_dir, self.gold_dir):
            os.makedirs(d, exist_ok=True)
        spark = self.spark
        feed_schema = load_table(spark, self.sf_dir, "events").schema
        bronze = bronze_dedup(parse_bronze(landing_stream(spark, self.landing_dir, feed_schema)))
        self._start(
            BRONZE_QUERY, "BronzePool", bronze,
            path=self.bronze_dir, state_src=(self.landing_dir,),
        )
        silver = to_silver(
            landing_stream(spark, self.bronze_dir, bronze.schema), metric_mapping(spark)
        )
        self._start(SILVER_QUERY, "SilverPool", silver, path=self.silver_dir)
        history = remote_history(spark, load_table(spark, self.sf_dir, "customer"))
        gold = enrich_gold(landing_stream(spark, self.silver_dir, silver.schema), history)
        self._start(GOLD_QUERY, "GoldPool", gold, path=self.gold_dir)
        self._start_serving(landing_stream(spark, self.gold_dir, gold.schema))
        return dict(self.queries)

    def feed(self, src_parquet: str, name: str = "drop.parquet") -> None:
        """Drop a feed table into the landing dir (a producer publish);
        single file or a part-file directory, like any lake table.
        Each file is published atomically (see :func:`_stage_parquet`),
        so the file source never lists a half-copied drop."""
        _stage_parquet(src_parquet, self.landing_dir, name)

    def status(self) -> list[dict]:
        """StreamingQueryManager view — one row per managed query, the
        reference's monitoring surface (``spark.streams.active``)."""
        out = []
        for q in self.spark.streams.active:
            if q.name not in self.queries:
                continue
            lp = q.lastProgress or {}
            out.append(
                {
                    "name": q.name,
                    "id": str(q.id),
                    "is_active": q.isActive,
                    "batches_seen": lp.get("batchId"),
                    "input_rows_last": lp.get("numInputRows"),
                }
            )
        return out

    def await_rows(self, path: str, n_rows: int, timeout_s: float = 120.0) -> int:
        """Poll a hop's lake until it holds ≥ ``n_rows`` rows (or
        timeout).  Returns the observed count."""
        deadline = time.monotonic() + timeout_s
        seen = 0
        while time.monotonic() < deadline:
            try:
                seen = self.spark.read.parquet(path).count()
            except Exception:
                seen = 0  # no files yet
            if seen >= n_rows:
                return seen
            time.sleep(1.0)
        return seen

    def await_store_rows(self, n_rows: int, timeout_s: float = 120.0) -> int:
        """Poll the serving store (through its version pointer — the
        store root holds version dirs, not bare parquet) until it
        holds >= ``n_rows`` keys."""
        from telemetry_streaming_datalake_spark.streaming.sinks import (
            ParquetUpsertStore,
        )

        store = ParquetUpsertStore(self.spark, self.serving_dir, key="id")
        deadline = time.monotonic() + timeout_s
        seen = 0
        while time.monotonic() < deadline:
            try:
                df = store.read()
                seen = 0 if df is None else df.count()
            except Exception:
                seen = 0  # pointer swap mid-read; retry
            if seen >= n_rows:
                return seen
            time.sleep(1.0)
        return seen

    def stop(self) -> None:
        """Stop every managed query (newest hop first so upstreams
        don't write into a dead consumer's lake mid-stop)."""
        for name in [SERVING_QUERY, GOLD_QUERY, SILVER_QUERY, BRONZE_QUERY]:
            q = self.queries.pop(name, None)
            if q is not None and q.isActive:
                q.stop()
                q.awaitTermination(30)


# --------------------------------------------------------------------------
# driver-checkable drained topology (stop + restart mid-feed)
# --------------------------------------------------------------------------


def always_on_topology(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    trigger_interval: str = "500 milliseconds",
) -> DataFrame:
    """The always-on posture as ONE oracle-checkable relation: run the
    4-hop topology, feed the first (chronological) half of the events,
    STOP cleanly, start a NEW runner on the same work dir (checkpoint
    recovery), feed the second half, drain, stop — and return the
    serving store's final state.

    Why this equals the batch twin: the feed is split at the median
    event time, so every phase-2 reading is newer than every phase-1
    reading; the serving hop's ItemOverwrite therefore can only move
    keys FORWARD, and the final store is exactly
    ``latest_metric(gold(full feed))`` — a key last touched in phase 1
    keeps its phase-1 latest (already global), a key touched in phase 2
    takes its phase-2 latest (newer than anything in phase 1).  Each
    hop's parquet lake commits through ``_spark_metadata``, so the
    downstream file source sees upstream micro-batches atomically and
    each single-file feed traverses the topology as one batch per hop.

    Expected row counts come from the batch twins, polled with
    ``await_rows`` — the run is fully drained before the store is
    read, and a restart that lost checkpoint state would double-apply
    phase 1 and fail the count (the recovery contract, now on the
    driver gate instead of pytest alone).
    """
    from telemetry_streaming_datalake_spark.operators.latest import latest_metric

    raw = load_table(spark, sf_dir, "events")
    ts_cut = raw.select(F.unix_timestamp("ts").alias("u")).approxQuantile(
        "u", [0.5], 0.0
    )[0]
    halves = [
        raw.filter(F.unix_timestamp("ts") <= ts_cut),
        raw.filter(F.unix_timestamp("ts") > ts_cut),
    ]
    feed_dirs = [os.path.join(work_dir, f"half{i}") for i in range(len(halves))]
    for half, out in zip(halves, feed_dirs):
        half.coalesce(1).write.parquet(out)

    # batch twins -> expected drained counts per phase
    mapping = metric_mapping(spark)
    history = remote_history(spark, load_table(spark, sf_dir, "customer"))

    def gold_of(df):
        return enrich_gold(to_silver(dedup_exact(parse_bronze(df)), mapping), history)

    gold_a = gold_of(halves[0]).count()
    gold_full = gold_a + gold_of(halves[1]).count()
    keys_a = latest_metric(gold_of(halves[0])).count()
    keys_full = latest_metric(gold_of(raw)).count()

    r1 = AlwaysOnRunner(spark, sf_dir, work_dir, trigger_interval)
    try:
        r1.start()
        r1.feed(feed_dirs[0], "feed_a.parquet")
        got = r1.await_rows(r1.gold_dir, gold_a, timeout_s=180)
        assert got == gold_a, f"phase-1 gold drain: {got} != {gold_a}"
        got = r1.await_store_rows(keys_a, timeout_s=120)
        assert got == keys_a, f"phase-1 serving drain: {got} != {keys_a}"
    finally:
        r1.stop()

    r2 = AlwaysOnRunner(spark, sf_dir, work_dir, trigger_interval)
    try:
        r2.start()
        r2.feed(feed_dirs[1], "feed_b.parquet")
        got = r2.await_rows(r2.gold_dir, gold_full, timeout_s=180)
        assert got == gold_full, f"phase-2 gold drain: {got} != {gold_full}"
        got = r2.await_store_rows(keys_full, timeout_s=120)
        assert got == keys_full, f"phase-2 serving drain: {got} != {keys_full}"
    finally:
        r2.stop()

    from telemetry_streaming_datalake_spark.streaming.sinks import ParquetUpsertStore

    store = ParquetUpsertStore(spark, os.path.join(work_dir, "serving_store"), key="id")
    return store.read().select(
        "id", "remote_id", "metric_id", "provider_id", "unix_ts",
        "event_id", "value_double", "value_string", "category_id",
    )


def always_on_topology_oracle(gold_cte: str) -> str:
    """The serving store after the drained stop+restart run ==
    ``latest_metric`` over the full batch gold, with the composite
    serving id prepended."""
    from telemetry_streaming_datalake_spark.operators.latest import latest_oracle

    return f"""
SELECT concat_ws('|', CAST(remote_id AS VARCHAR), CAST(metric_id AS VARCHAR),
                 CAST(provider_id AS VARCHAR)) AS id,
       remote_id, metric_id, provider_id, unix_ts, event_id,
       value_double, value_string, category_id
FROM ({latest_oracle(gold_cte)})
"""
