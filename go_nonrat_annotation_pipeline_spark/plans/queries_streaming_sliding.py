"""Sliding-window streaming aggregation.

Oracle: each event belongs to exactly window/slide = 2 sliding windows
(1h window, 30min hop), so the batch equivalent is a UNION ALL of the
two half-hour-aligned tumbling decompositions. Window starts are
emitted as epoch-seconds BIGINT (UTC session, hop-aligned windows) per
the r4 float/timestamp discipline.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..streaming.stream import read_events_stream, run_to_memory, sliding_counts
from .registry import register


@register(
    "stream_sliding_agg",
    """
    WITH halves AS (
      SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT)
               + CASE WHEN EXTRACT(MINUTE FROM ts) >= 30 THEN 1800 ELSE 0 END
               AS half_start, event_type
      FROM events
    ), expanded AS (
      SELECT half_start AS window_start_epoch, event_type FROM halves
      UNION ALL
      SELECT half_start - 1800 AS window_start_epoch, event_type FROM halves
    )
    SELECT window_start_epoch, event_type, COUNT(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
    doc="streaming: sliding 1h/30min window counts (memory-sink drain), "
    "window start as epoch-seconds BIGINT",
)
def stream_sliding_agg(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = sliding_counts(events, "1 hour", "30 minutes")
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").cast("long").alias("window_start_epoch"),
        "event_type",
        "n",
    )
