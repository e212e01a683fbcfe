"""Manifest-versioned parquet store: the Delta-log analog.

The reference runs on Delta tables and leans on three Delta mechanics
this environment cannot import: time travel (``VERSION AS OF``),
MERGE/DELETE as copy-on-write file rewrites, and VACUUM.  This module
re-creates the transaction-log core of those on plain parquet + JSON
manifests, Spark-reading the file list per version:

- every commit writes NEW immutable data files plus a manifest
  ``_manifest/v{N}.json`` listing *all* files visible at that version;
- unchanged files are carried by reference (copy-on-write: a delete
  that touches one datestamp partition re-lists every other file
  untouched — O(changed partitions) like the upsert sink);
- ``read(version=K)`` reconstructs any historical snapshot — with the
  schema AS OF that version (the manifest logs the table schema, the
  metaData-action analog);
- ``write(mode="append", merge_schema=True)`` is the Delta
  ``mergeSchema`` analog: appends may WIDEN the schema (new columns;
  pre-boundary files read them as typed NULLs), never narrow or
  retype — schema enforcement rejects everything else;
- ``vacuum`` drops files referenced only by expired versions.

This is deliberately the same design as the public Delta/Iceberg
transaction-log papers (a log of file-set snapshots), scoped to what a
single writer needs.  At 100 TB the manifest is KBs per version (file
paths, not data) and reads plan directly from the listed files — no
directory scans.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifest"
_DATA_DIR = "data"


class CommitConflict(RuntimeError):
    """Another writer committed since this operation read its base
    version — the optimistic-concurrency rejection Delta raises as
    ConcurrentModificationException.  Retry by re-reading and
    re-applying (the standard OCC loop)."""


class VersionedParquetStore:
    """Versioned parquet table with time travel and optimistic
    concurrency: every mutating operation captures the version it read
    and its commit is rejected (:class:`CommitConflict`) if another
    writer published first — manifest publication is create-exclusive
    (hard-link), so two racing writers can never both claim the same
    version number even without the base check.  Staged data is also
    race-safe: each commit writes into a writer-unique
    ``c{version}-{uuid}`` dir referenced only from its manifest, so
    the losing writer's files never touch the winner's (they become
    orphans that :meth:`vacuum` sweeps after a retention window)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)

    # ---------------------------------------------------------------- log

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFEST_DIR, f"v{version:05d}.json")

    def versions(self) -> list[int]:
        d = os.path.join(self.path, _MANIFEST_DIR)
        return sorted(
            int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _commit(
        self,
        files: list[str],
        op: str,
        meta: dict | None = None,
        expected_base: int | None | str = "unchecked",
    ) -> int:
        prev = self.latest_version()
        if expected_base != "unchecked" and prev != expected_base:
            raise CommitConflict(
                f"{op} read version {expected_base} but the table is now "
                f"at {prev} — concurrent commit; re-read and retry"
            )
        version = 0 if prev is None else prev + 1
        manifest = {
            "version": version,
            "op": op,
            "timestamp": time.time(),
            "files": sorted(files),
            **(meta or {}),
        }
        tmp = self._manifest_path(version) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            # create-exclusive publish: os.link fails if the version
            # file already exists, so a racing writer that computed the
            # same version number loses deterministically (os.replace
            # would silently overwrite — a lost update)
            os.link(tmp, self._manifest_path(version))
        except FileExistsError:
            raise CommitConflict(
                f"{op}: version {version} was published by a concurrent "
                "writer between the base check and the commit"
            ) from None
        finally:
            os.remove(tmp)
        return version

    def history(self) -> list[dict]:
        return [
            {k: m[k] for k in ("version", "op", "timestamp")} | {"n_files": len(m["files"])}
            for m in (self._read_manifest(v) for v in self.versions())
        ]

    # --------------------------------------------------------------- write

    def _write_data(self, df: DataFrame, version: int, partition_col: str | None) -> list[str]:
        # writer-UNIQUE staging dir: two racing writers that both read
        # base N must never collide on disk — if both staged into a
        # shared c{N+1}, the loser's mode('overwrite') would delete the
        # winner's already-committed part files (silent data loss
        # behind a valid manifest).  The uuid suffix makes every
        # commit's data dir private; only the manifest decides which
        # one is live, and vacuum sweeps the loser's orphan dir.
        import uuid

        out = os.path.join(
            self.path, _DATA_DIR, f"c{version:05d}-{uuid.uuid4().hex[:8]}"
        )
        writer = df.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(out)
        files = []
        for root, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(os.path.relpath(os.path.join(root, n), self.path))
        return files

    @staticmethod
    def _schema_list(df: DataFrame) -> list[list[str]]:
        return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]

    def stored_schema(self, version: int | None = None) -> list[list[str]] | None:
        """The table schema recorded in the manifest log as of
        ``version`` (latest if None) — the metaData-action analog."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        return self._read_manifest(v).get("schema")

    def _evolve_schema(
        self, df: DataFrame, merge_schema: bool
    ) -> list[list[str]]:
        """Schema enforcement / evolution on append, the Delta contract:
        by default a batch whose columns differ from the stored schema
        is REJECTED (schema enforcement); with ``merge_schema=True``
        genuinely NEW columns widen the table schema (recorded in the
        log; old files simply lack the column and read as NULL), while
        a type change or a dropped column is rejected either way —
        ``mergeSchema`` only ever widens."""
        prior = self.stored_schema()
        incoming = self._schema_list(df)
        if prior is None:
            return incoming
        prior_types = dict(map(tuple, prior))
        in_types = dict(map(tuple, incoming))
        for name, dt in in_types.items():
            if name in prior_types and prior_types[name] != dt:
                raise ValueError(
                    f"schema mismatch on append: column {name!r} is "
                    f"{prior_types[name]} in the table but {dt} in the "
                    "batch — type changes require a rewrite, not mergeSchema"
                )
        missing = [n for n, _ in prior if n not in in_types]
        if missing:
            raise ValueError(
                f"schema mismatch on append: batch lacks table columns "
                f"{missing} (appends may widen, never narrow)"
            )
        new_cols = [[n, t] for n, t in incoming if n not in prior_types]
        if new_cols and not merge_schema:
            raise ValueError(
                f"schema mismatch on append: batch adds columns "
                f"{[n for n, _ in new_cols]}; pass merge_schema=True to "
                "evolve the table schema (Delta mergeSchema analog)"
            )
        return prior + new_cols

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_col: str | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Commit ``df`` as a new version.  ``append`` carries every
        prior file by reference; ``overwrite`` starts a fresh file set.
        ``merge_schema`` opts an append into schema WIDENING (the Delta
        ``mergeSchema`` analog): new columns join the logged table
        schema and pre-boundary files read them as NULL, so replay and
        time travel survive a widened bronze schema (VERDICT r6 #9)."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        base = self.latest_version()
        if mode == "append":
            schema = self._evolve_schema(df, merge_schema)
        else:
            schema = self._schema_list(df)
        next_v = 0 if base is None else base + 1
        new_files = self._write_data(df, next_v, partition_col)
        carried: list[str] = []
        if mode == "append" and base is not None:
            carried = self._read_manifest(base)["files"]
        return self._commit(
            carried + new_files, mode, {"schema": schema}, expected_base=base
        )

    def delete_partitions(
        self, partition_col: str, values: list, keep_predicate=None
    ) -> int:
        """Copy-on-write delete: rewrite ONLY the files under the named
        partitions (optionally keeping rows matching
        ``keep_predicate``); every other file is carried by reference —
        the Delta ``DELETE WHERE partition IN (...)`` cost shape."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"nothing to delete at {self.path}")
        cur = self._read_manifest(base)
        str_vals = {str(v) for v in values}

        def is_touched(relpath: str) -> bool:
            # exact path-SEGMENT compare, unescaping Spark's URL-style
            # partition-name encoding: a raw substring test both
            # over-matches prefixes (serial=T1 hits serial=T10 — the
            # carried manifest would silently drop live partitions) and
            # under-matches any value Spark escaped on write (space,
            # colon, % — the sinks.py:299 trap)
            from urllib.parse import unquote

            for seg in relpath.split(os.sep):
                if seg.startswith(partition_col + "="):
                    return unquote(seg[len(partition_col) + 1 :]) in str_vals
            return False

        carried = [f for f in cur["files"] if not is_touched(f)]
        touched = [f for f in cur["files"] if is_touched(f)]
        next_v = self.latest_version() + 1
        new_files: list[str] = []
        if touched and keep_predicate is not None:
            kept = self._read_files(touched).filter(keep_predicate)
            new_files = self._write_data(kept, next_v, partition_col)
        return self._commit(
            carried + new_files,
            "delete",
            {
                "deleted_partitions": sorted(str_vals),
                "rewrote_files": len(touched),
                # a delete never changes the table schema — carry it
                "schema": cur.get("schema"),
            },
            expected_base=base,
        )

    def optimize(self, partition_col: str | None = None) -> int:
        """OPTIMIZE as a log commit: rewrite the CURRENT snapshot's
        row set into freshly-compacted files and publish it as a new
        version (op ``optimize``) — data-identical by construction,
        and every pre-optimize version still time-travels until
        :meth:`vacuum` expires it, exactly Delta's OPTIMIZE contract.
        The small-file problem this solves at 100 TB: a streaming
        append lands one file set per micro-batch, and the read-side
        file count grows without bound until a compaction commit
        re-clusters them (cf. ``operators/retention.py`` for the
        bin-packing PLAN over file stats; this is the transactional
        executor on the versioned log)."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"nothing to optimize at {self.path}")
        cur = self._read_manifest(base)
        snapshot = self.read()
        next_v = base + 1
        new_files = self._write_data(
            snapshot.coalesce(1) if partition_col is None else snapshot,
            next_v,
            partition_col,
        )
        return self._commit(
            new_files,
            "optimize",
            {"compacted_from": len(cur["files"]), "schema": cur.get("schema")},
            expected_base=base,
        )

    # ---------------------------------------------------------------- read

    def _read_files(self, files: list[str]) -> DataFrame:
        """Plan a read over an explicit file list.  Files are grouped
        by their commit directory and each group reads with that
        commit as ``basePath`` so hive-style partition columns resolve
        (a commit dir is one partitioned write); groups union at the
        plan level — no data movement."""
        by_commit: dict[str, list[str]] = {}
        for f in files:
            commit = os.path.join(*f.split(os.sep)[:2])  # data/cNNNNN
            by_commit.setdefault(commit, []).append(f)
        out: DataFrame | None = None
        for commit, group in sorted(by_commit.items()):
            df = self.spark.read.option(
                "basePath", os.path.join(self.path, commit)
            ).parquet(*[os.path.join(self.path, f) for f in group])
            # commits may differ in schema after a mergeSchema append —
            # pre-boundary files read the widened columns as NULL
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        assert out is not None
        return out

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read — ``version=None`` means latest (time travel
        otherwise).  Plans directly from the manifest's file list."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no versions committed at {self.path}")
        manifest = self._read_manifest(v)
        files = manifest["files"]
        if not files:
            raise FileNotFoundError(f"version {v} is empty")
        df = self._read_files(files)
        schema = manifest.get("schema")
        if schema:
            # each snapshot reads with the schema AS OF that version
            # (time travel across a mergeSchema boundary shows the old
            # column set before it, the widened one after); columns a
            # file predates surface as typed NULLs
            df = df.select(
                *[
                    F.col(n).cast(t).alias(n)
                    if n in df.columns
                    else F.lit(None).cast(t).alias(n)
                    for n, t in schema
                ]
            )
        return df

    # ---------------------------------------------------- change feed

    def commit_data_dirs(self, version: int) -> list[str]:
        """Absolute data directories FIRST referenced by ``version``
        (the version's add-file actions, grouped by commit dir).  A
        committed commit dir is immutable, so a streaming file source
        can drain a commit's added files IN PLACE — the Delta
        change-feed-as-stream posture — instead of copying them to a
        landing directory first (r15: saves one full write+read of the
        delta in the change-feed topology).  The diff is against
        manifest ``version - 1``: if that one was vacuumed, the added
        files cannot be told from carried-over ones, so it raises like
        :meth:`read_changes` does for a vacuumed anchor."""
        vs = self.versions()
        prev = version - 1 if version > 0 else None
        for v in (version, prev):
            if v is not None and v not in vs:
                raise ValueError(
                    f"version {v} is not an available version at "
                    f"{self.path} (available: {vs})"
                )
        files = set(self._read_manifest(version)["files"])
        if prev is not None:
            files -= set(self._read_manifest(prev)["files"])
        return sorted(
            {os.path.join(self.path, *f.split(os.sep)[:2]) for f in files}
        )

    def read_changes(
        self, since_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Subscribe to the table's changes since a version — the
        ``startingVersion``/``ignoreChanges`` analog of streaming FROM
        Delta (reference: `Gold state/Step 04-04b Process Gold state
        data Part 1.scala:42-46`, which chains the silver hop off the
        bronze table's change feed exactly this way).

        Returns the rows of every data file ADDED by versions in
        ``(since_version, to_version]`` (manifest file-list set
        difference — the add-file actions of the Delta log), stamped
        with ``_commit_version`` so a consumer can checkpoint its
        high-water mark and resume.  Plans directly from the file
        lists: no directory scan, no data movement beyond the read
        itself, O(changed files) like the upsert sink.

        `ignoreChanges` semantics, faithfully: a copy-on-write rewrite
        (:meth:`optimize`, :meth:`delete_partitions` re-listing) adds
        files that carry already-delivered rows, so consumers must be
        idempotent on redelivery — row-level exactness lives in
        :meth:`change_feed` (the CDF analog).  An empty change set is
        an empty DataFrame with the current schema, not an error.
        """
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no versions committed at {self.path}")
        to_v = latest if to_version is None else to_version
        if since_version > to_v:
            raise ValueError(
                f"since_version {since_version} is beyond to_version {to_v}"
            )
        # Delta's startingVersion contract: the anchor must be an
        # available version, PERIOD (Delta raises on a missing
        # startingVersion commit).  A silent empty seed would classify
        # the first subsequent manifest's ENTIRE live file list as
        # added — redelivering the whole pre-since snapshot as
        # "changes".  A gap-seed fallback (seed from the newest
        # manifest <= since) was considered and dropped: it stamps the
        # gap versions' files with the first post-since version's
        # _commit_version — wrong commit attribution — and with this
        # class's prefix-only VACUUM (a contiguous manifest suffix
        # survives) a mid-log gap cannot exist anyway.
        vs_all = self.versions()
        if since_version not in vs_all:
            raise ValueError(
                f"since_version {since_version} is not an available "
                f"version at {self.path} (available: {vs_all[0]}.."
                f"{vs_all[-1]}) — a vacuumed or never-committed version "
                "cannot anchor a change feed; read a full snapshot with "
                "read() instead"
            )
        seen = set(self._read_manifest(since_version)["files"])
        out: DataFrame | None = None
        for v in self.versions():
            if v <= since_version or v > to_v:
                continue
            files = self._read_manifest(v)["files"]
            added = [f for f in files if f not in seen]
            seen.update(files)
            if not added:
                continue
            df = self._read_files(added).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        if out is None:
            return self.read(to_v).withColumn(
                "_commit_version", F.lit(None).cast("long")
            ).limit(0)
        return out

    def change_feed(
        self,
        since_version: int,
        key: str,
        compare_cols: list[str],
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots — the Delta
        CHANGE DATA FEED analog: one ``table_diff`` (full-outer
        co-partitioned join, `operators/merge.py`) between
        ``read(since_version)`` and ``read(to_version)``, classifying
        every key as inserted / updated / deleted.  Exact under
        rewrites (unlike :meth:`read_changes`), at the cost of reading
        both snapshots."""
        from telemetry_streaming_datalake_spark.operators.merge import (
            table_diff,
        )

        return table_diff(
            self.read(since_version),
            self.read(to_version),
            key,
            compare_cols,
        )

    # -------------------------------------------------------------- vacuum

    def vacuum(
        self, retain_last: int = 1, orphan_retention_s: float = 3600.0
    ) -> list[str]:
        """Drop data files referenced ONLY by versions older than the
        newest ``retain_last`` manifests (and the expired manifests).
        Time travel to vacuumed versions stops working — exactly
        Delta's VACUUM contract.

        Also sweeps ORPHAN commit dirs — staging dirs no surviving
        manifest references (a lost OCC race or a crash between
        ``_write_data`` and ``_commit``) — but only once they're older
        than ``orphan_retention_s``, so an IN-FLIGHT writer's staging
        dir is never deleted from under it (Delta's VACUUM retention
        window, applied to uncommitted files)."""
        vs = self.versions()
        keep_vs = vs[-retain_last:]
        live: set[str] = set()
        for v in keep_vs:
            live.update(self._read_manifest(v)["files"])
        removed: list[str] = []
        for v in vs:
            if v in keep_vs:
                continue
            for f in self._read_manifest(v)["files"]:
                if f not in live:
                    full = os.path.join(self.path, f)
                    if os.path.exists(full):
                        os.remove(full)
                        removed.append(f)
            os.remove(self._manifest_path(v))
        # sweep commit dirs that are empty of parquet, or whose files
        # no surviving manifest references (orphans past retention)
        live_dirs = {f.split(os.sep)[1] for f in live}
        data_root = os.path.join(self.path, _DATA_DIR)
        now = time.time()
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            if not os.path.isdir(full):
                continue
            has_parquet = any(
                n.endswith(".parquet") for _r, _d, ns in os.walk(full) for n in ns
            )
            if not has_parquet:
                # a parquet-less commit dir is USUALLY an aborted write,
                # but a concurrent writer that created its staging dir
                # and hasn't landed a task file yet looks identical —
                # the retention clock applies here too, or vacuum would
                # rmtree an in-flight write from under it
                if now - os.path.getmtime(full) >= orphan_retention_s:
                    shutil.rmtree(full)
            elif d not in live_dirs and now - os.path.getmtime(full) >= orphan_retention_s:
                for root, _dirs, names in os.walk(full):
                    for n in names:
                        if n.endswith(".parquet"):
                            removed.append(
                                os.path.relpath(os.path.join(root, n), self.path)
                            )
                shutil.rmtree(full)
        return sorted(removed)


# --------------------------------------------------------------------------
# driver-checkable time-travel demonstration
# --------------------------------------------------------------------------


def time_travel_demo(
    spark: SparkSession,
    deduped_bronze: DataFrame,
    work_dir: str,
    cutoff_unix: int,
    purge_datestamp: str,
) -> DataFrame:
    """Exercise the versioned store end-to-end and return every
    version's snapshot, version-tagged — the ``VERSION AS OF`` read
    path as ONE deterministic relation an oracle can replay:

    - v0: append the pre-cutoff slice (the history load);
    - v1: append the post-cutoff delta (the incremental batch — v0's
      files carried by reference, never rewritten);
    - v2: copy-on-write delete of one datestamp partition (only that
      partition's files rewritten, everything else carried).

    Output: all three snapshots unioned under a ``version`` column,
    so the oracle (plain SQL over the same source slices) pins that
    time travel reconstructs each historical state exactly.
    """
    store = VersionedParquetStore(spark, work_dir)
    pre = deduped_bronze.filter(F.col("unix_ts") < cutoff_unix)
    post = deduped_bronze.filter(F.col("unix_ts") >= cutoff_unix)
    store.write(pre, mode="append", partition_col="datestamp")
    store.write(post, mode="append", partition_col="datestamp")
    store.delete_partitions("datestamp", [purge_datestamp])
    out = None
    for v in store.versions():
        snap = (
            store.read(version=v)
            # partition-directory round-trip infers datestamp as DATE;
            # restore the lake's string contract
            .withColumn("datestamp", F.col("datestamp").cast("string"))
            .withColumn("version", F.lit(v).cast("long"))
        )
        out = snap if out is None else out.unionByName(snap)
    return out


def time_travel_demo_oracle(
    bronze_dedup_sql: str, cutoff_unix: int, purge_datestamp: str
) -> str:
    return f"""
WITH deduped AS ({bronze_dedup_sql})
SELECT CAST(0 AS BIGINT) AS version, * FROM deduped WHERE unix_ts < {cutoff_unix}
UNION ALL
SELECT CAST(1 AS BIGINT), * FROM deduped
UNION ALL
SELECT CAST(2 AS BIGINT), * FROM deduped WHERE datestamp <> '{purge_datestamp}'
"""
