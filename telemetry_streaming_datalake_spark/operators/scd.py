"""Slowly-changing-dimension current view.

Reference semantics: ``Set Up Delta Tables/Set up Delta tables for
Slowly changing Data.scala`` maintains interval dimensions
(remotedevicehistory etc.) via MERGE: a changed key closes the open row
(sets RemovedOn) and inserts a fresh open row; the "current" view is
``WHERE RemovedOn IS NULL``.

:func:`scd2_current` derives that current snapshot from a history
frame with one window over the serial key (the history itself is
built by ``datamodel.remote_history``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.datamodel import REMOTE_HISTORY_CTE


def scd2_current(history: DataFrame) -> DataFrame:
    """Current (open) row per serial.

    The open row is the one with NULL ``removed_on``; picking it via
    row_number over (added_on desc) also handles dimensions whose final
    row was closed (no current row → excluded by the filter).
    """
    w = Window.partitionBy("serial").orderBy(F.col("added_on").desc())
    return (
        history.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("removed_on").isNull())
        .drop("rn")
    )


def scd2_current_oracle() -> str:
    return (
        "WITH "
        + REMOTE_HISTORY_CTE.strip()
        + """
SELECT serial, remote_id, added_on, removed_on, is_private
FROM (
    SELECT h.*, row_number() OVER (PARTITION BY serial ORDER BY added_on DESC) AS rn
    FROM remote_history h
)
WHERE rn = 1 AND removed_on IS NULL
"""
    )
