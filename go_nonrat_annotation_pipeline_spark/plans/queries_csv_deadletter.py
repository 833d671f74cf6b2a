"""CSV dead-letter routing via PERMISSIVE corrupt-record parsing.

The format-side twin of q_json_dead_letter_report: a CSV feed is
staged from the events table with deterministically injected defects
(event_id % 7 rows carry a non-numeric value field), then read back
through Spark's real PERMISSIVE + columnNameOfCorruptRecord machinery
— the production CSV ingestion posture. The oracle recomputes the
ground truth directly from the events view (the corruption rule is key
arithmetic, so truth needs no CSV parser); a hash match proves Spark's
corrupt-record routing lands exactly on the constructed truth: no row
lost, no clean row misrouted.

The report is localCheckpointed before the staging dir is reclaimed —
the returned frame must not depend on files this function deletes.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_CORRUPT = "event_id % 7 = 0"


@register(
    "q_csv_dead_letter",
    f"""
    SELECT event_type,
           CAST(SUM(CASE WHEN NOT ({_CORRUPT}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN {_CORRUPT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dead,
           CAST(SUM(CASE WHEN NOT ({_CORRUPT})
                         THEN CAST(FLOOR(value * 100) AS BIGINT) END)
                AS BIGINT) AS sum_v
    FROM events
    GROUP BY event_type
    """,
    doc="CSV dead-letter via Spark's PERMISSIVE + "
    "columnNameOfCorruptRecord (the real ingestion machinery, not a "
    "post-hoc scan): staged feed with injected non-numeric fields; "
    "oracle recomputes truth from the source table — hash match = no "
    "row lost, no clean row misrouted",
)
def q_csv_dead_letter(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    line = F.concat_ws(
        ",",
        F.col("event_id").cast("string"),
        F.col("event_type"),
        F.when(F.expr(_CORRUPT), F.lit("xx")).otherwise(
            F.col("v").cast("string")
        ),
    )
    root = tempfile.mkdtemp(prefix="csv_dlq_")
    try:
        path = os.path.join(root, "feed")
        ev.select(line.alias("value")).write.text(path)
        parsed = (
            spark.read.schema(
                "event_id long, event_type string, v long, _bad string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_bad")
            .csv(path)
        )
        report = parsed.groupBy("event_type").agg(
            F.sum(
                F.when(F.col("_bad").isNull(), 1).otherwise(0)
            ).alias("n_ok"),
            F.sum(
                F.when(F.col("_bad").isNotNull(), 1).otherwise(0)
            ).alias("n_dead"),
            F.sum(F.when(F.col("_bad").isNull(), F.col("v"))).alias(
                "sum_v"
            ),
        )
        return report.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)
