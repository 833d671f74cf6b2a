"""JSON dead-letter / quarantine ingestion queries.

Every at-scale ingestion path needs a dead-letter lane: rows whose
payload fails to parse must be counted and quarantined, never silently
dropped or allowed to poison the batch. The synthetic `events.props`
JSON is always valid, so corruption is INJECTED by key arithmetic
(event_id % 7 → a prepended '{' makes the payload unparseable in both
engines), then parse-or-null routing splits the flow.

Cross-engine parse semantics are aligned on "extracted field is NULL":
Spark's get_json_object returns NULL for malformed JSON, and the oracle
guards extraction behind json_valid — both label exactly the same rows
dead. All JVM-side on the Spark path (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_CORRUPT = "event_id % 7 = 0"

_INJ_CTE = f"""
    c AS (
      SELECT event_id, event_type,
             CASE WHEN {_CORRUPT} THEN '{{' || props ELSE props END
               AS props
      FROM events
    ), parsed AS (
      SELECT event_id, event_type,
             CASE WHEN json_valid(props)
                  THEN CAST(props->>'k' AS BIGINT) END AS k
      FROM c
    )"""


def _parsed(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    inj = events.select(
        "event_id",
        "event_type",
        F.when(
            F.expr(_CORRUPT), F.concat(F.lit("{"), F.col("props"))
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    return inj.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "q_json_dead_letter_report",
    f"""
    WITH {_INJ_CTE}
    SELECT event_type,
           CAST(SUM(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dead,
           CAST(SUM(k) AS BIGINT) AS sum_k
    FROM parsed
    GROUP BY event_type
    """,
    doc="dead-letter accounting per event type: parse-or-null routing "
    "splits good rows (aggregated) from quarantined rows (counted) in "
    "ONE pass — no second scan, no silent drops; injected corruption "
    "(event_id % 7) proves the split on both engines",
)
def q_json_dead_letter_report(spark, sf_dir):
    p = _parsed(spark, sf_dir)
    return p.groupBy("event_type").agg(
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias(
            "n_ok"
        ),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
            "n_dead"
        ),
        F.sum("k").alias("sum_k"),
    )


@register(
    "q_json_quarantine_rows",
    f"""
    WITH {_INJ_CTE}
    SELECT event_id, event_type FROM parsed WHERE k IS NULL
    """,
    doc="the quarantine lane itself: the exact row set a dead-letter "
    "sink would receive for replay after an upstream fix",
)
def q_json_quarantine_rows(spark, sf_dir):
    return (
        _parsed(spark, sf_dir)
        .where(F.col("k").isNull())
        .select("event_id", "event_type")
    )
