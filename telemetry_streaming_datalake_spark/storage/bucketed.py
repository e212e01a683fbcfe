"""Bucketed tables: exchange-free co-located joins.

The third leg of the join-strategy ladder (broadcast → AQE → bucketing):
when BOTH sides of a recurring big×big equi-join are written bucketed on
the join key with the same bucket count, Spark matches buckets 1:1 and
the join plans with ZERO Exchange — the shuffle is paid once at write
time and amortized over every subsequent join (how production lakes
co-locate fact-to-fact joins the reference's Delta tables get via
OPTIMIZE + partitioning).

``bucketBy`` requires the table catalog, so the demo creates a database
at an explicit temp LOCATION (never the repo working dir), writes the
event fact and a per-user profile both bucketed on ``user_id``, and
joins them.  ``tests/test_bucketed.py`` pins the exchange-free plan; the
driver key checks the join's RESULT against plain SQL (the physical
strategy never changes the relation).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.session import (
    _src_fingerprint,
    load_table,
    scratch_dir,
)
from telemetry_streaming_datalake_spark.operators.derived import floor_round

N_BUCKETS = 8

#: database LOCATION is pinned on first CREATE, so later calls must reuse
#: the same dir instead of minting a fresh scratch dir that the catalog
#: then ignores (ADVICE r5: one leaked temp dir per bench+crosscheck call)
_WORK_DIR: str | None = None

#: file identity (``session._src_fingerprint``) of the events source
#: whose snapshot currently backs the tables — a repeat call for the
#: same, unchanged source skips the rewrite entirely; a source
#: rewritten at the same path has a new identity and is reloaded
_LOADED_FOR: tuple | None = None


def setup_bucketed_tables(
    spark: SparkSession, sf_dir: str, work_dir: str | None = None
) -> tuple[str, str]:
    """Write the events fact and the per-user profile, both bucketed by
    user_id into a temp-location database.  Returns the table names."""
    global _WORK_DIR, _LOADED_FOR
    db = "tsdl_bucketed"
    src = _src_fingerprint(os.path.join(sf_dir, "events.parquet"))
    if work_dir is None:
        if _WORK_DIR is None:
            _WORK_DIR = scratch_dir("bucket_")
        loc = _WORK_DIR
        if _LOADED_FOR == src and spark.catalog.tableExists(
            f"{db}.events_bucketed"
        ):
            return f"{db}.events_bucketed", f"{db}.profile_bucketed"
    else:
        loc = work_dir
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    profile = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        floor_round(F.sum("value"), 6).alias("lifetime_value"),
    )
    (
        ev.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "user_id")
        .sortBy("user_id")
        .saveAsTable(f"{db}.events_bucketed")
    )
    (
        profile.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "user_id")
        .sortBy("user_id")
        .saveAsTable(f"{db}.profile_bucketed")
    )
    # unconditional: an explicit-work_dir call rewrites the SAME
    # catalog tables (the database LOCATION is pinned), so the cache
    # must track whatever snapshot actually backs them now
    _LOADED_FOR = src
    return f"{db}.events_bucketed", f"{db}.profile_bucketed"


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases enriched with each user's lifetime profile via the
    bucket-co-located join — at scale this is the recurring fact×fact
    join that bucketing makes exchange-free (write-once shuffle)."""
    ev_t, prof_t = setup_bucketed_tables(spark, sf_dir)
    ev = spark.table(ev_t).filter(F.col("event_type") == "purchase")
    # the merge hint pins the fact×fact strategy this table layout
    # exists for — at test scale AQE would broadcast the tiny profile
    # instead (also correct, but then the bucket co-location being
    # demonstrated never engages); at 100 TB both sides exceed the
    # broadcast threshold and the optimizer picks this plan itself
    prof = spark.table(prof_t).hint("merge")
    return ev.join(prof, "user_id").select(
        "event_id",
        "user_id",
        F.col("value").alias("purchase_value"),
        "n_events",
        "lifetime_value",
    )


def bucketed_join_oracle() -> str:
    return """
WITH profile AS (
    SELECT user_id, count(*) AS n_events,
           floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS lifetime_value
    FROM events GROUP BY 1
)
SELECT event_id, user_id, value AS purchase_value, n_events, lifetime_value
FROM events JOIN profile USING (user_id)
WHERE event_type = 'purchase'
"""
