"""Versioned-manifest store: time travel, copy-on-write delete,
vacuum — the Delta-log-analog contracts."""

import glob
import os

import pytest

from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.storage.versioned import VersionedParquetStore


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, datestamp string, v double")


def test_append_overwrite_and_time_travel(spark, tmp_path):
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    v0 = store.write(_df(spark, [(1, "2024-01-01", 1.0)]), mode="overwrite")
    v1 = store.write(_df(spark, [(2, "2024-01-02", 2.0)]), mode="append")
    assert (v0, v1) == (0, 1)
    assert {r.id for r in store.read().collect()} == {1, 2}
    assert {r.id for r in store.read(version=0).collect()} == {1}
    ops = [h["op"] for h in store.history()]
    assert ops == ["overwrite", "append"]


def test_copy_on_write_delete_shares_untouched_files(spark, tmp_path):
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    store.write(
        _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-02", 3.0)]),
        mode="overwrite",
        partition_col="datestamp",
    )
    before = store._read_manifest(0)["files"]
    d1_files = [f for f in before if "datestamp=2024-01-01" in f]
    # delete day 2 rows with v < 3 (copy-on-write of that partition only)
    store.delete_partitions("datestamp", ["2024-01-02"], keep_predicate=F.col("v") >= 3.0)
    after = store._read_manifest(1)["files"]
    # day-1 files carried by reference, byte-identical paths
    assert set(d1_files) <= set(after)
    got = {(r.id, r.v) for r in store.read().collect()}
    assert got == {(1, 1.0), (3, 3.0)}
    # time travel still sees the pre-delete snapshot
    assert {r.id for r in store.read(version=0).collect()} == {1, 2, 3}


def test_vacuum_drops_expired_versions(spark, tmp_path):
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    store.write(_df(spark, [(1, "2024-01-01", 1.0)]), mode="overwrite")
    store.write(_df(spark, [(2, "2024-01-02", 2.0)]), mode="overwrite")  # v1 replaces v0
    removed = store.vacuum(retain_last=1)
    assert removed  # v0's files were only referenced by v0
    assert store.versions() == [1]
    assert {r.id for r in store.read().collect()} == {2}
    # the removed files are really gone from disk
    for f in removed:
        assert not os.path.exists(os.path.join(store.path, f))


def test_merge_schema_append_and_time_travel_across_boundary(spark, tmp_path):
    """The Delta mergeSchema analog (VERDICT r6 #9): a widened bronze
    schema appends with merge_schema=True, pre-boundary rows read the
    new column as NULL, and time travel BEFORE the boundary shows the
    original column set."""
    from telemetry_streaming_datalake_spark.storage.versioned import (
        VersionedParquetStore,
    )

    store = VersionedParquetStore(spark, str(tmp_path / "evo"))
    v0_df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, a string")
    store.write(v0_df, mode="append")
    widened = spark.createDataFrame(
        [(3, "z", 7.5)], "id long, a string, quality double"
    )
    # schema enforcement: the widened batch is rejected by default
    with pytest.raises(ValueError, match="merge_schema=True"):
        store.write(widened, mode="append")
    store.write(widened, mode="append", merge_schema=True)

    latest = store.read()
    assert [f.name for f in latest.schema.fields] == ["id", "a", "quality"]
    rows = {r.id: r for r in latest.collect()}
    assert rows[1].quality is None and rows[3].quality == 7.5

    v0 = store.read(version=0)
    assert [f.name for f in v0.schema.fields] == ["id", "a"]
    assert v0.count() == 2


def test_merge_schema_rejects_narrowing_and_type_change(spark, tmp_path):
    """mergeSchema only ever widens: dropped columns and type changes
    are rejected even with merge_schema=True."""
    from telemetry_streaming_datalake_spark.storage.versioned import (
        VersionedParquetStore,
    )

    store = VersionedParquetStore(spark, str(tmp_path / "strict"))
    store.write(spark.createDataFrame([(1, "x")], "id long, a string"))
    with pytest.raises(ValueError, match="never narrow"):
        store.write(
            spark.createDataFrame([(2,)], "id long"), merge_schema=True
        )
    with pytest.raises(ValueError, match="type change"):
        store.write(
            spark.createDataFrame([(2, 9)], "id long, a long"),
            merge_schema=True,
        )


def test_schema_carries_through_delete_and_replay(spark, tmp_path):
    """A copy-on-write delete after a mergeSchema boundary keeps the
    widened schema in the log (replay survives)."""
    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.storage.versioned import (
        VersionedParquetStore,
    )

    store = VersionedParquetStore(spark, str(tmp_path / "del"))
    store.write(
        spark.createDataFrame([(1, "d1"), (2, "d2")], "id long, ds string"),
        partition_col="ds",
    )
    store.write(
        spark.createDataFrame([(3, "d3", 1.0)], "id long, ds string, q double"),
        partition_col="ds",
        merge_schema=True,
    )
    store.delete_partitions("ds", ["d1"])
    latest = store.read()
    assert [f.name for f in latest.schema.fields] == ["id", "ds", "q"]
    assert {r.id for r in latest.collect()} == {2, 3}


def test_optimistic_concurrency_rejects_conflicting_commit(spark, tmp_path):
    """Two writers on one table: the slower writer's commit must raise
    CommitConflict, never silently overwrite or double-claim a version
    (Delta's ConcurrentModificationException contract)."""
    from telemetry_streaming_datalake_spark.storage.versioned import (
        CommitConflict,
        VersionedParquetStore,
    )

    path = str(tmp_path / "occ")
    w1 = VersionedParquetStore(spark, path)
    w2 = VersionedParquetStore(spark, path)
    w1.write(spark.createDataFrame([(1,)], "id long"))
    # w1 stages a commit against base 0; w2 publishes first
    base = w1.latest_version()
    files = w1._write_data(spark.createDataFrame([(2,)], "id long"), 99, None)
    w2.write(spark.createDataFrame([(3,)], "id long"))
    with pytest.raises(CommitConflict):
        w1._commit(files, "append", {"schema": [["id", "bigint"]]}, expected_base=base)
    # the winning history is intact: v0 (w1) then v1 (w2)
    assert w1.versions() == [0, 1]
    assert {r.id for r in w1.read().collect()} == {1, 3}


def test_optimize_commit_compacts_without_changing_data(spark, tmp_path):
    """OPTIMIZE publishes a data-identical compacted version; earlier
    versions still time-travel until vacuumed, then the optimized
    snapshot survives alone."""
    from telemetry_streaming_datalake_spark.storage.versioned import (
        VersionedParquetStore,
    )

    store = VersionedParquetStore(spark, str(tmp_path / "opt"))
    for i in range(4):  # four micro-batch-ish appends -> many files
        store.write(spark.createDataFrame([(i, float(i))], "id long, v double"))
    before = store._read_manifest(store.latest_version())["files"]
    v = store.optimize()
    after = store._read_manifest(v)["files"]
    assert len(after) < len(before)
    assert store.history()[-1]["op"] == "optimize"
    want = {(r.id, r.v) for r in store.read(version=3).collect()}
    assert {(r.id, r.v) for r in store.read().collect()} == want
    store.vacuum(retain_last=1)
    assert {(r.id, r.v) for r in store.read().collect()} == want


def test_racing_writers_never_collide_on_staged_data(spark, tmp_path):
    """Two writers that both read base=N stage into DIFFERENT dirs:
    the loser's overwrite must not delete the winner's committed part
    files (the pre-r8 layout shared data/c{N+1}, so it did).  After
    the race the winner's snapshot reads back intact, and the loser's
    orphan dir is swept by vacuum once past the retention window."""
    import os

    from telemetry_streaming_datalake_spark.storage.versioned import (
        CommitConflict,
        VersionedParquetStore,
    )

    path = str(tmp_path / "race")
    w1 = VersionedParquetStore(spark, path)
    w2 = VersionedParquetStore(spark, path)
    w1.write(spark.createDataFrame([(0,)], "id long"))
    base = w1.latest_version()
    # both writers stage version base+1 data; w2 commits first
    f1 = w1._write_data(spark.createDataFrame([(1,)], "id long"), base + 1, None)
    v = w2.write(spark.createDataFrame([(2,)], "id long"))
    # loser's staging happened AFTER the winner's commit in the old
    # layout this would have overwritten data/c{base+1}; now it lands
    # in its own dir and the winner's files are untouched
    f1b = w1._write_data(spark.createDataFrame([(3,)], "id long"), base + 1, None)
    assert {x.split(os.sep)[1] for x in f1} != {x.split(os.sep)[1] for x in f1b}
    winner_files = w2._read_manifest(v)["files"]
    for f in winner_files:
        assert os.path.exists(os.path.join(path, f))
    with pytest.raises(CommitConflict):
        w1._commit(f1, "append", {"schema": [["id", "bigint"]]}, expected_base=base)
    assert {r.id for r in w1.read().collect()} == {0, 2}
    # orphan staging dirs referenced by no manifest are vacuumed only
    # past the retention window (in-flight writers stay safe) ...
    removed_early = w1.vacuum(retain_last=10, orphan_retention_s=3600)
    assert removed_early == []
    assert {r.id for r in w1.read().collect()} == {0, 2}
    # ... and swept once expired
    removed = w1.vacuum(retain_last=10, orphan_retention_s=0)
    assert removed  # the two orphan staging dirs' files
    assert {r.id for r in w1.read().collect()} == {0, 2}
    assert {r.id for r in w1.read(version=0).collect()} == {0}


def test_delete_partitions_exact_segment_match(spark, tmp_path):
    """A raw substring compare would classify serial=T10 as touched by
    a delete of serial=T1 (prefix overmatch — permanent loss of the
    carried partition) and would MISS values Spark URL-escapes in the
    directory name (space/colon).  Both must route correctly."""
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "T1", 1.0), (2, "T10", 2.0), (3, "has space", 3.0)],
        "id long, serial string, v double",
    )
    store.write(df, mode="overwrite", partition_col="serial")
    store.delete_partitions("serial", ["T1"])
    left = {r.serial for r in store.read().collect()}
    assert left == {"T10", "has space"}  # T10 carried, not deleted
    store.delete_partitions("serial", ["has space"])
    assert {r.serial for r in store.read().collect()} == {"T10"}


def test_delete_partitions_empty_store_raises_cleanly(spark, tmp_path):
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    with pytest.raises(FileNotFoundError):
        store.delete_partitions("serial", ["T1"])


def test_read_changes_returns_appended_rows_with_commit_versions(spark, tmp_path):
    """The startingVersion analog: rows of data files added AFTER
    since_version, stamped with their commit version; since=latest is
    an empty typed frame; OOB since raises."""
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    store.write(_df(spark, [(1, "2024-01-01", 1.0)]), mode="overwrite")
    store.write(_df(spark, [(2, "2024-01-02", 2.0)]), mode="append")
    store.write(_df(spark, [(3, "2024-01-03", 3.0)]), mode="append")
    got = {(r.id, r._commit_version) for r in store.read_changes(0).collect()}
    assert got == {(2, 1), (3, 2)}
    # bounded upper end
    got = {(r.id, r._commit_version) for r in store.read_changes(0, to_version=1).collect()}
    assert got == {(2, 1)}
    # caught-up subscriber: empty, schema intact
    empty = store.read_changes(2)
    assert empty.count() == 0
    assert "_commit_version" in empty.columns and "id" in empty.columns
    with pytest.raises(ValueError):
        store.read_changes(5)


def test_read_changes_vacuumed_anchor_raises(spark, tmp_path):
    """The Delta startingVersion contract, strictly: ANY unavailable
    anchor raises — including one vacuumed away.  No gap-seed
    fallback: it would stamp gap-version files with a later version's
    _commit_version (wrong attribution), and prefix-only VACUUM can't
    produce a mid-log gap anyway (ADVICE r13)."""
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    store.write(_df(spark, [(1, "2024-01-01", 1.0)]), mode="overwrite")
    store.write(_df(spark, [(2, "2024-01-02", 2.0)]), mode="append")
    store.write(_df(spark, [(3, "2024-01-03", 3.0)]), mode="append")
    store.vacuum(retain_last=2)  # drops v0; v1, v2 survive
    with pytest.raises(ValueError, match="not an available version"):
        store.read_changes(0)
    # surviving anchors still work, attribution intact
    got = {(r.id, r._commit_version) for r in store.read_changes(1).collect()}
    assert got == {(3, 2)}


def test_read_changes_redelivers_on_rewrite_like_ignorechanges(spark, tmp_path):
    """A copy-on-write rewrite (optimize) re-adds files carrying old
    rows — read_changes redelivers them, the documented ignoreChanges
    contract (exactness lives in change_feed)."""
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    store.write(_df(spark, [(1, "2024-01-01", 1.0)]), mode="overwrite")
    store.write(_df(spark, [(2, "2024-01-01", 2.0)]), mode="append")
    store.optimize()  # v2: rewrites both rows into one file
    ids = [r.id for r in store.read_changes(1).collect()]
    assert sorted(ids) == [1, 2]  # redelivery, by design


def test_change_feed_is_exact_row_level_diff(spark, tmp_path):
    """The CDF analog on top of table_diff: inserted/updated/deleted
    between two snapshots, exact even across a rewrite."""
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    store.write(
        _df(spark, [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)]),
        mode="overwrite",
    )
    store.write(
        _df(spark, [(1, "2024-01-01", 9.0), (3, "2024-01-03", 3.0)]),
        mode="overwrite",
    )
    got = {r.id: r.change for r in store.change_feed(0, "id", ["v"]).collect()}
    assert got == {1: "updated", 2: "deleted", 3: "inserted"}


def test_silver_hop_driven_from_change_feed(spark, tmp_path):
    """VERDICT r11 #6 end-to-end: a bronze-shaped versioned table's
    change feed drives the silver mapping hop — the silver output over
    read_changes(v) equals the hop over exactly the post-v rows (the
    `Gold state/Step 04-04b` startingVersion chaining, on this
    engine's storage)."""
    from telemetry_streaming_datalake_spark.ingest.silver import to_silver

    bronze_schema = (
        "event_id long, serial string, metric string, value double, "
        "payload_k long, unix_ts long, datestamp string, hourstamp string"
    )
    mk = lambda rows: spark.createDataFrame(rows, bronze_schema)
    b1 = mk([(1, "s1", "click", 2.0, 1, 1700000000, "2023-11-14", "22")])
    b2 = mk(
        [
            (2, "s1", "signup", 5.0, 1, 1700000100, "2023-11-14", "22"),
            (3, "s2", "error", -4.0, 2, 1700000200, "2023-11-14", "22"),
        ]
    )
    mapping = spark.createDataFrame(
        [("click", 10, 1, "SUM", 100), ("signup", 11, 1, "SUM", 100),
         ("error", 12, 1, "AVG", 101)],
        "raw_symbol string, metric_id long, provider_id long, "
        "agg_type string, category_id long",
    )
    store = VersionedParquetStore(spark, str(tmp_path / "bronze"))
    store.write(b1, mode="overwrite")
    high_water = store.latest_version()
    store.write(b2, mode="append")

    changes = store.read_changes(high_water).drop("_commit_version")
    got = {
        (r.event_id, r.metric_id, r.value)
        for r in to_silver(changes, mapping).collect()
    }
    want = {
        (r.event_id, r.metric_id, r.value) for r in to_silver(b2, mapping).collect()
    }
    assert got == want
    # normalization rules applied on the fed rows too
    assert (2, 11, 1.0) in got   # signup status-normalized to 1
    assert (3, 12, 0.0) in got   # error clamped at 0


def test_commit_data_dirs_are_the_versions_added_files_in_place(spark, tmp_path):
    """commit_data_dirs(v) names exactly the immutable data dirs v's
    write introduced: reading them in place equals read_changes(v-1)
    minus the stamp — the zero-copy change-feed contract the streaming
    silver hop drains (r15)."""
    import os

    df1 = spark.range(5).selectExpr("id", "id * 2 AS v")
    df2 = spark.range(5, 9).selectExpr("id", "id * 2 AS v")
    store = VersionedParquetStore(spark, str(tmp_path / "t"))
    v0 = store.write(df1, mode="overwrite")
    v1 = store.write(df2, mode="append")
    dirs = store.commit_data_dirs(v1)
    assert len(dirs) == 1 and os.path.isdir(dirs[0])
    got = {tuple(r) for r in spark.read.parquet(*dirs).collect()}
    want = {
        tuple(r)
        for r in store.read_changes(v0).drop("_commit_version").collect()
    }
    assert got == want and len(got) == 4
    # v0's own dirs are disjoint from v1's (immutability of commits)
    assert set(store.commit_data_dirs(v0)).isdisjoint(dirs)
    import pytest

    with pytest.raises(ValueError):
        store.commit_data_dirs(99)
    # the diff is against version-1, not the previous SURVIVING manifest:
    # after vacuuming v0, v1's predecessor is gone, so v1's added files
    # cannot be told from v0's carried-over dir
    store.write(spark.range(9, 11).selectExpr("id", "id * 2 AS v"), mode="append")
    store.vacuum(retain_last=2)
    assert store.versions() == [1, 2]
    with pytest.raises(ValueError, match="not an available version"):
        store.commit_data_dirs(v1)
    assert len(store.commit_data_dirs(2)) == 1
