"""Streaming sinks: every ``foreachBatch`` writes through one of two
primitives, and every lake and store has one layout.

Exactly-once comes from a replayable source plus an idempotent sink
(*Structured Streaming*, SIGMOD 2018); the reference gets it from one
Delta write per hop (``Gold Aggregation/Step 05 ….scala:108-121``).

- :func:`land_batch` lands one micro-batch's rows in
  ``<lake>/batch=<id>``, overwriting, so a replayed batch rewrites its
  own dir.  :func:`read_batch_lake` reads the lake back (one never
  landed reads as the empty relation); :func:`landed_batches` lists it.
- :func:`publish_frame` writes a whole relation (a complete-mode
  result, a folded store) as the next ``v{n}`` of a versioned store,
  committed by :func:`publish_version`'s atomic ``CURRENT`` swap: a
  reader sees the old version or the new one, never a partial dir.  A
  ``batch_id`` commits with the version and a replayed id is skipped.
  :func:`read_store` reads the committed relation, which every store
  keeps at its version root.

A partitioned write repartitions on its column first: one file per
partition value, not one per input task.  :class:`ParquetUpsertStore`
calls :func:`publish_version` itself, because it hardlinks the
partitions a batch does not touch into the new version.
"""

from __future__ import annotations

import abc
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


#: the batch-id record inside a version dir; ``_``-prefixed, so Spark
#: and pyarrow readers of the version never list it
_BATCH_ID = "_batch_id"
#: the one spelling of a landed batch's dir inside its lake
_BATCH_DIR = "batch="


def _overwrite(df: DataFrame, path: str, partition_by: str | None) -> None:
    """Overwrite ``path`` with ``df``; a partitioned write is keyed on
    its column first, so each partition value lands from one task."""
    if partition_by:
        df.repartition(partition_by).write.partitionBy(partition_by).mode(
            "overwrite"
        ).parquet(path)
    else:
        df.write.mode("overwrite").parquet(path)


def land_batch(
    df: DataFrame, lake: str, batch_id: int, partition_by: str | None = None
) -> None:
    """Land one micro-batch as ``<lake>/batch=<batch_id>`` (overwrite:
    a replayed batch id rewrites its own dir, never appends twice)."""
    _overwrite(df, os.path.join(lake, f"{_BATCH_DIR}{batch_id}"), partition_by)


def landed_batches(lake: str) -> dict[int, str]:
    """``{batch id: dir}`` of every batch landed in ``lake`` (empty
    for a lake never landed)."""
    if not os.path.isdir(lake):
        return {}
    return {
        int(d[len(_BATCH_DIR):]): os.path.join(lake, d)
        for d in os.listdir(lake)
        if d.startswith(_BATCH_DIR)
    }


def read_batch_lake(spark: SparkSession, lake: str, schema) -> DataFrame:
    """Read back a lake of :func:`land_batch` dirs.  The schema is
    explicit, so a lake that got no rows — a drain of zero batches, or
    a split whose other side took every row — reads as the empty
    relation instead of failing schema inference; ``recursiveFileLookup``
    reads every batch dir as plain files (no ``batch`` partition
    column)."""
    if not os.path.isdir(lake):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(lake)


def current_version_dir(store: str) -> str | None:
    """The committed ``v{n}`` directory of a versioned store, or None
    for an empty store (for readers; writers get it from
    :func:`publish_version`).  A ``v*`` dir ``CURRENT`` does not name
    is a crash leftover or the previous version, never resolved."""
    ptr = os.path.join(store, "CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return os.path.join(store, fh.read().strip())


def version_batch_id(version_dir: str) -> int | None:
    """The batch id committed with a version (None if published without)."""
    try:
        with open(os.path.join(version_dir, _BATCH_ID)) as fh:
            return int(fh.read())
    except FileNotFoundError:
        return None


def publish_version(store: str, populate, *, batch_id: int | None = None) -> bool:
    """The one commit protocol of every versioned store (the upsert
    store directly, every other one through :func:`publish_frame`):
    ``populate(cur, new_dir)`` gets the committed version dir (None
    when empty) and writes the next version into ``v{n+1}``; then the
    ``CURRENT`` pointer swaps atomically (tmp + ``os.replace``).  A
    crash before the swap leaves the previous version current; the
    orphan is overwritten by the next publish.  The sweep keeps the new
    and the previous version (for in-flight lazy readers).

    ``batch_id`` makes a non-idempotent store exactly-once under
    checkpoint replay (Delta's ``txn`` action): an id <= the one
    committed with the current version is skipped (returns False);
    otherwise the id is written into the new version before the swap,
    so one ``os.replace`` commits payload and id together.
    foreachBatch ids are monotonic per checkpoint and replay only
    re-delivers the latest unfinished batch, so one id is the whole
    ledger."""
    import shutil

    cur = current_version_dir(store)
    done = None if cur is None else version_batch_id(cur)
    if batch_id is not None and done is not None and batch_id <= done:
        return False
    version = 0 if cur is None else int(os.path.basename(cur)[1:]) + 1
    new_dir = os.path.join(store, f"v{version}")
    populate(cur, new_dir)
    if batch_id is not None:
        with open(os.path.join(new_dir, _BATCH_ID), "w") as fh:
            fh.write(str(int(batch_id)))
    tmp = os.path.join(store, "CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"v{version}")
    os.replace(tmp, os.path.join(store, "CURRENT"))
    for d in os.listdir(store):
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) not in (
            version,
            version - 1,
        ):
            shutil.rmtree(os.path.join(store, d), ignore_errors=True)
    return True


def publish_frame(
    store: str, build, *, batch_id: int | None = None, partition_by: str | None = None
) -> bool:
    """Write ``build(cur)`` — a frame built from the committed version
    dir ``cur`` (None for an empty store) — as the next version of
    ``store`` and commit it (:func:`publish_version`; a replayed
    ``batch_id`` is skipped and returns False).  If building or writing
    the frame fails, ``CURRENT`` still names the previous version."""
    return publish_version(
        store,
        lambda cur, new_dir: _overwrite(build(cur), new_dir, partition_by),
        batch_id=batch_id,
    )


def read_store(spark: SparkSession, store: str) -> DataFrame:
    """The relation of a store's committed version."""
    cur = current_version_dir(store)
    if cur is None:
        raise FileNotFoundError(f"empty store: {store}")
    return spark.read.parquet(cur)


class ServingStoreWriter(abc.ABC):
    """The foreachBatch serving-sink contract a real KV client drops
    into (the reference's Cosmos ``ItemOverwrite`` sink, with its
    client-side per-item retries, is one such client).  Here
    :class:`ParquetUpsertStore` is the lake implementation and
    :class:`InMemoryKVServingStore` the test fake.

    Contract:

    - ``apply_batch(batch_df, batch_id)`` upserts the batch keyed by
      ``self.key`` — newest batch wins per key (ItemOverwrite).
    - **Replay idempotency**: Structured Streaming re-delivers the
      SAME ``batch_id`` after a recovery; applying a batch twice must
      leave the store exactly as applying it once.  Key-overwrite
      semantics give this for free when the batch content is
      deterministic; writers with non-idempotent effects must track
      ``batch_id`` high-water marks (see :class:`InMemoryKVServingStore`;
      the lake stores pass it to :func:`publish_version`).
    """

    key: str = "id"

    @abc.abstractmethod
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Land one micro-batch.  MUST be safe to call twice with the
        same (content, batch_id) pair."""


class InMemoryKVServingStore(ServingStoreWriter):
    """Fake KV client proving the interface: dict-backed ItemOverwrite
    with an explicit applied-``batch_id`` set, so a replayed batch is
    skipped rather than re-applied — the high-water-mark discipline a
    real non-idempotent client (HTTP upsert API, accumulating
    counters) needs.  ``collect()`` limits it to test scale by design;
    a production client writes per-partition via ``foreachPartition``.
    """

    def __init__(self, key: str = "id") -> None:
        self.key = key
        self.data: dict = {}
        self.applied_batches: set[int] = set()
        self.apply_calls = 0

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        self.apply_calls += 1
        if batch_id in self.applied_batches:
            return  # replay after recovery — already landed
        for row in batch_df.collect():
            d = row.asDict()
            self.data[d[self.key]] = d
        self.applied_batches.add(batch_id)


class ParquetUpsertStore(ServingStoreWriter):
    """Keyed upsert store over versioned partitioned parquet
    (foreachBatch target).

    ``apply_batch`` is what you hand to ``foreachBatch``; it implements
    ItemOverwrite: rows from the newer batch replace same-key rows.
    ``partition_col`` is the pruning axis (e.g. ``datestamp``); with it
    set, a batch REWRITES only the partitions it touches and carries
    every untouched partition file across by hardlink (O(touched
    data + #files metadata), never O(store)).  Without it the store
    degrades to a documented full rewrite (only acceptable for tiny
    key-value stores).

    CONTRACT required by the pruned path: the partition value must be
    functionally determined by the key (every caller here embeds the
    datestamp in ``id``).  The same constraint governs any
    partition-pruned MERGE (Delta included): if a key could MIGRATE
    partitions between batches, its stale row would sit in an
    untouched partition the prune never reads, and the store would
    serve two rows for the key.  Keys that can move partitions must
    use ``partition_col=None`` (full winner rewrite) or a partition
    scheme keyed off the key itself.

    Durability: every apply lands in a fresh ``v{n}`` and becomes
    visible only through :func:`publish_version`'s atomic ``CURRENT``
    swap, so a crash mid-apply leaves the last committed state readable
    and the next apply overwrites the orphan.  ItemOverwrite is
    replay-idempotent, so the store publishes without a batch id.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "id",
        partition_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = key
        self.partition_col = partition_col

    # ------------------------------------------------------ versioning

    def current_data_dir(self) -> str | None:
        """The committed version directory (None for an empty store)."""
        return current_version_dir(self.path)

    # ------------------------------------------------------------ read

    def read(self) -> DataFrame | None:
        cur = self.current_data_dir()
        if cur is None:
            return None
        df = self.spark.read.parquet(cur)
        if self.partition_col:
            # partition-column values come back type-inferred (e.g.
            # DATE for 'yyyy-MM-dd'); restore the stored string form so
            # unions against incoming batches stay schema-stable
            df = df.withColumn(
                self.partition_col, F.col(self.partition_col).cast("string")
            )
        return df

    def _winners(self, merged: DataFrame) -> DataFrame:
        w = Window.partitionBy(self.key).orderBy(F.col("_v").desc())
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_v")
        )

    # ----------------------------------------------------------- write

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        publish_version(
            self.path, lambda cur, new_dir: self._write_version(batch_df, cur, new_dir)
        )

    def _write_version(self, batch_df: DataFrame, cur: str | None, new_dir: str) -> None:
        incoming = batch_df.withColumn("_v", F.lit(1))
        if cur is None:
            writer = incoming.drop("_v").write.mode("overwrite")
            if self.partition_col:
                writer = writer.partitionBy(self.partition_col)
            writer.parquet(new_dir)
            return
        if self.partition_col:
            current = self.read()
            # partitions this batch touches — bounded by batch size
            parts = {
                str(r[0])
                for r in batch_df.select(self.partition_col).distinct().collect()
            }
            merged = self._winners(
                current.filter(F.col(self.partition_col).isin(list(parts)))
                .withColumn("_v", F.lit(0))
                .unionByName(incoming)
            )
            merged.write.mode("overwrite").partitionBy(
                self.partition_col
            ).parquet(new_dir)
            # carry untouched partitions by hardlink: same inode, so
            # bytes/mtimes are literally the previous version's —
            # O(#files) metadata, no data copied or rewritten.
            # "Untouched" is decided by directory-name set difference
            # against what the merged write just produced — NOT by
            # comparing raw values to dir suffixes, because Spark
            # URL-escapes special characters (space, colon, %) in
            # partition dir names and a raw-value compare would
            # hardlink stale files into a just-rewritten partition.
            prefix = f"{self.partition_col}="
            written = set(os.listdir(new_dir))
            for entry in os.listdir(cur):
                if not entry.startswith(prefix) or entry in written:
                    continue
                src_dir = os.path.join(cur, entry)
                dst_dir = os.path.join(new_dir, entry)
                os.makedirs(dst_dir, exist_ok=True)
                for fname in os.listdir(src_dir):
                    if fname.startswith(".") or fname.startswith("_"):
                        continue
                    os.link(
                        os.path.join(src_dir, fname),
                        os.path.join(dst_dir, fname),
                    )
            return
        # unpartitioned: documented full winner rewrite, atomic via the
        # same version swap.  Every version was written from a batch of
        # this schema, so it is read with it: no footer-inference job.
        current = self.spark.read.schema(batch_df.schema).parquet(cur)
        merged = self._winners(
            current.withColumn("_v", F.lit(0)).unionByName(incoming)
        )
        merged.write.mode("overwrite").parquet(new_dir)
