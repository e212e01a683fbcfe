"""Derived dimension tables and shared oracle-SQL fragments.

The reference pipeline joins its telemetry stream against several small
dimension tables (``metricmappings``, ``custommetrics``,
``metrics-aggtype``, ``metricproviders``, ``remotedevicehistory`` — see
``Gold state/Step 04-04b - Gold Phase Raw and custom metric.scala:21-33``).
The driver's synthetic test data has no such tables, so this module
*derives* them deterministically:

- ``metric_mapping``: a literal table mapping raw event_type symbols to
  (metric_id, provider_id, agg_type, category_id) — the
  ``metricmappings`` ∪ ``metrics-aggtype`` ∪ ``metricproviders`` analog.
- ``custom_metric_mapping``: custommetrics analog (mappingType SUM/JOIN).
- ``remote_history``: an SCD2 interval table (AddedOn/RemovedOn per
  serial) generated from ``customer`` — the ``remotedevicehistory``
  analog.  Three consecutive 10-day intervals per customer covering the
  events' January-2024 window; the last interval is open (RemovedOn
  NULL), exactly the shape the reference's temporal join expects.

Each constant dimension has ONE ``VALUES`` literal shared by both
engines: the DuckDB CTE selects from it for ``oracle_sql()``, and the
DataFrame constructor runs the same literal through ``spark.sql`` (a
``LocalTableScan``, so joining it starts no Python worker).
``remote_history`` is derived from ``customer`` by twin expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# metric mapping (metricmappings + aggtype + provider, flattened)
# --------------------------------------------------------------------------

# payload_k / payload_k_re are the payload-derived metrics emitted by the
# silver name/value explode (from_json struct field and regex-extracted twin)
_METRIC_MAPPING_VALUES = """(VALUES
        ('click',    100, 1, 'SUM',    1, 'web'),
        ('view',     101, 1, 'SUM',    1, 'web'),
        ('purchase', 102, 1, 'SUM',    2, 'web'),
        ('signup',   103, 2, 'LATEST', 2, 'crm'),
        ('error',    104, 2, 'AVG',    3, 'crm'),
        ('payload_k',    105, 3, 'AVG', 4, 'json'),
        ('payload_k_re', 106, 3, 'AVG', 4, 'json')
    ) AS t(raw_symbol, metric_id, provider_id, agg_type, category_id, provider_name)"""

METRIC_MAPPING_CTE = f"""
metric_mapping AS (
    SELECT * FROM {_METRIC_MAPPING_VALUES}
)
"""


def metric_mapping(spark: SparkSession) -> DataFrame:
    """Tiny mapping dim — always joined with ``F.broadcast``."""
    return spark.sql(
        "SELECT raw_symbol, CAST(metric_id AS BIGINT) AS metric_id,"
        " CAST(provider_id AS BIGINT) AS provider_id, agg_type,"
        " CAST(category_id AS BIGINT) AS category_id, provider_name"
        f" FROM {_METRIC_MAPPING_VALUES}"
    )


# --------------------------------------------------------------------------
# custom metric mapping (custommetrics analog)
# --------------------------------------------------------------------------

# custom 200 = total_engagement (click + view + purchase);
# custom 201 = conversion pair (purchase vs click)
_CUSTOM_METRIC_VALUES = """(VALUES
        (200, 100, 'SUM'),
        (200, 101, 'SUM'),
        (200, 102, 'SUM'),
        (201, 102, 'JOIN'),
        (201, 100, 'JOIN')
    ) AS t(custom_metric_id, mapping_metric_id, mapping_type)"""

CUSTOM_METRIC_CTE = f"""
custom_metric_mapping AS (
    SELECT * FROM {_CUSTOM_METRIC_VALUES}
)
"""


def custom_metric_mapping(spark: SparkSession) -> DataFrame:
    return spark.sql(
        "SELECT CAST(custom_metric_id AS BIGINT) AS custom_metric_id,"
        " CAST(mapping_metric_id AS BIGINT) AS mapping_metric_id, mapping_type"
        f" FROM {_CUSTOM_METRIC_VALUES}"
    )


# --------------------------------------------------------------------------
# remote device history (SCD2 intervals; remotedevicehistory analog)
# --------------------------------------------------------------------------

#: 2024-01-01T00:00:00Z
HISTORY_EPOCH = 1704067200
#: interval width: 10 days
HISTORY_STEP = 10 * 86400
#: intervals per serial
HISTORY_SLOTS = 3


def remote_history(spark: SparkSession, customer: DataFrame) -> DataFrame:
    """SCD2 interval table: 3 consecutive 10-day slots per customer.

    ``remote_id`` changes per slot (``custkey*10 + slot``) so the
    temporal join genuinely has to pick the interval containing the
    event timestamp — same semantics as the reference's
    ``AddedOn <= ts < RemovedOn`` modem-history lookup
    (``Gold state/Step 04-04b ….scala:65``).  The final slot is open
    (``removed_on`` NULL).
    """
    slots = F.explode(F.sequence(F.lit(0), F.lit(HISTORY_SLOTS - 1))).alias("slot")
    # ~10% of serials deliberately have NO history row — they surface in
    # orphan_usage, exactly like the reference's unmapped remotes.
    h = customer.filter(F.col("c_custkey") % 10 != 3).select(
        F.col("c_custkey").alias("serial"), slots
    )
    return h.select(
        "serial",
        (F.col("serial") * 10 + F.col("slot")).alias("remote_id"),
        (F.lit(HISTORY_EPOCH) + F.col("slot") * HISTORY_STEP).alias("added_on"),
        F.when(
            F.col("slot") < HISTORY_SLOTS - 1,
            F.lit(HISTORY_EPOCH) + (F.col("slot") + 1) * HISTORY_STEP,
        ).alias("removed_on"),
        (F.col("serial") % 50 == 0).alias("is_private"),
    )


REMOTE_HISTORY_CTE = f"""
remote_history AS (
    SELECT
        c_custkey AS serial,
        c_custkey * 10 + slot AS remote_id,
        {HISTORY_EPOCH} + slot * {HISTORY_STEP} AS added_on,
        CASE WHEN slot < {HISTORY_SLOTS - 1}
             THEN {HISTORY_EPOCH} + (slot + 1) * {HISTORY_STEP}
        END AS removed_on,
        (c_custkey % 50 = 0) AS is_private
    FROM customer, (SELECT unnest(range({HISTORY_SLOTS})) AS slot)
    WHERE c_custkey % 10 <> 3
)
"""
