"""Bucketed co-located join: exchange-free plan + correct result."""

from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.storage import bucketed as BK
from telemetry_streaming_datalake_spark.session import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed on user_id with equal bucket counts → the
    join matches buckets 1:1; ANY Exchange in the plan means the
    write-time shuffle isn't being amortized."""
    import contextlib
    import io

    spark.catalog.clearCache()  # plan pin: assert the uncached shape
    df = BK.bucketed_join(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p, p
    assert "SortMergeJoin" in p


def test_bucketed_join_result_matches_plain_join(spark):
    got = BK.bucketed_join(spark, SF)
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    prof = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("lifetime_value"),
    )
    want = (
        ev.filter(F.col("event_type") == "purchase")
        .join(prof, "user_id")
        .select(
            "event_id", "user_id",
            F.col("value").alias("purchase_value"),
            "n_events", "lifetime_value",
        )
    )
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w


def test_bucketed_join_reloads_a_source_rewritten_in_place(spark, tmp_path):
    """The tables are reused only while the events source is unchanged:
    rewriting it at the SAME path (even half, then odd half) must make
    the next join serve the new rows, equal to plain SQL over them."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(f"{SF}/events.parquet")
    path = str(tmp_path / "events.parquet")
    odd = pc.equal(pc.bit_wise_and(events["event_id"], 1), 1)
    pq.write_table(events.filter(pc.invert(odd)), path)
    first = {r.event_id for r in BK.bucketed_join(spark, str(tmp_path)).collect()}
    assert first and all(e % 2 == 0 for e in first)

    pq.write_table(events.filter(odd), path)
    load_table(spark, str(tmp_path), "events").createOrReplaceTempView("bk_events")
    want = spark.sql(
        """
        WITH profile AS (
            SELECT user_id, count(*) AS n_events,
                   floor(sum(value) * 1e6 + 0.5) / 1e6 AS lifetime_value
            FROM bk_events GROUP BY user_id
        )
        SELECT event_id, user_id, value AS purchase_value, n_events, lifetime_value
        FROM bk_events JOIN profile USING (user_id)
        WHERE event_type = 'purchase'
        """
    )
    g = sorted(tuple(r) for r in BK.bucketed_join(spark, str(tmp_path)).collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g and g == w
