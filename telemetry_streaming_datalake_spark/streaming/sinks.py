"""Streaming sinks: keyed upsert (MERGE-analog) and latest-value store.

Reference semantics: every aggregate stream lands via ``foreachBatch``
+ MERGE/ItemOverwrite (``Gold Aggregation/Step 05 ….scala:108-121`` and
the Cosmos ``ItemOverwrite`` write strategy) — i.e. the sink is a
keyed upsert, newest batch wins per id.

Parquet-lake formulation: the store is a *partitioned* directory; an
upsert micro-batch touches ONLY the partitions its keys live in —
read those partitions (partition-pruned scan), resolve the winner per
key (incoming row wins: ItemOverwrite), and land the result through
Spark's dynamic partition overwrite, which replaces exactly the
partitions present in the written frame and leaves every other
partition's files untouched on disk.  That is the parquet analog of a
Delta ``MERGE``: cost is O(touched partitions), never O(store) — at
100 TB serving scale a micro-batch touching one hour of one day must
not rewrite years of history.  (``tests/test_streaming.py`` pins the
untouched-partition bytes.)  Swapping in Delta turns ``apply_batch``
into a literal MERGE with the same contract.
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
    """The one commit protocol of every versioned store (upsert, HLL,
    CMS, grouping sets, the seen store's compacted part):
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

    Durability (r8): every apply lands in a fresh ``v{n}`` directory
    and becomes visible only via an atomic ``CURRENT`` pointer swap
    (tmp + ``os.replace``) — the pre-r8 layout overwrote the store
    directory in place, so a query stop or crash mid-apply could leave
    the store EMPTY with no replay able to restore the lost rows (the
    checkpoint only re-delivers unapplied batches).  With the swap
    (:func:`publish_version`, shared with the sketch, grouping-sets and
    seen stores), an aborted apply leaves an orphan ``v{n}`` that the
    next apply overwrites, and readers always see the last committed
    state.  The previous version is kept until the next successful
    apply so in-flight lazy readers of the prior snapshot stay valid.
    ItemOverwrite is replay-idempotent, so the store publishes without
    a batch id and ``CURRENT`` and the version dirs hold nothing else.
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
