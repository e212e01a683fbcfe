"""Latest-value materialization for the serving store.

Reference semantics: ``Metric Stream to Cosmos/Step 06.b Latest -
Stream metric data to Cosmos DB.scala`` keeps, per (remoteId,
kymetaMetricId, metricProviderId), the record with the newest
timestamp and overwrites the serving-store document;
``Step 06.a Raw & Latest ….scala:33-55`` shows the composite-id
key-value projection used for point lookups.

Spark-first shape: instead of a global window sort, ``groupBy`` +
``max(struct(...))`` — one shuffle with map-side partial aggregation;
the struct's leading fields (unix_ts, event_id) give a deterministic
winner even on timestamp ties.  At 100 TB this is the canonical
"argmax per key" pattern; a window row_number would sort every
partition instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_metric(gold: DataFrame) -> DataFrame:
    """Newest record per (remote_id, metric_id, provider_id)."""
    winner = F.max(
        F.struct(
            F.col("unix_ts"),
            F.col("event_id"),
            F.col("value_double").cast("double").alias("vd"),
            F.col("value_string").alias("vs"),
            F.col("category_id").alias("cat"),
        )
    ).alias("w")
    g = gold.groupBy("remote_id", "metric_id", "provider_id").agg(winner)
    return g.select(
        "remote_id",
        "metric_id",
        "provider_id",
        F.col("w.unix_ts").alias("unix_ts"),
        F.col("w.event_id").alias("event_id"),
        F.round(F.col("w.vd"), 6).alias("value_double"),
        F.col("w.vs").alias("value_string"),
        F.col("w.cat").alias("category_id"),
    )


def latest_oracle(gold_cte: str) -> str:
    """row_number formulation — same winner as the max(struct) because
    the ordering fields coincide (ts desc, event_id desc)."""
    return f"""
WITH gold AS ({gold_cte}),
ranked AS (
    SELECT remote_id, metric_id, provider_id, unix_ts, event_id,
           round(CAST(value_double AS DOUBLE), 6) AS value_double,
           value_string, category_id,
           row_number() OVER (
               PARTITION BY remote_id, metric_id, provider_id
               ORDER BY unix_ts DESC, event_id DESC
           ) AS rn
    FROM gold
)
SELECT remote_id, metric_id, provider_id, unix_ts, event_id,
       value_double, value_string, category_id
FROM ranked WHERE rn = 1
"""

