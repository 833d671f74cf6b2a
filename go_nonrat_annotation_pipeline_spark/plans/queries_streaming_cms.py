"""Streaming count-min sketch query.

Heavy-hitter counting over a stream with BOUNDED state: depth×width
integer counters per tumbling window regardless of key cardinality
(streaming/stream.windowed_cms_counters). Window starts emit as
epoch-seconds BIGINT per the r4 timestamp discipline.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators.sketches import sql_hash60
from ..streaming.stream import (
    read_events_stream,
    run_to_memory,
    windowed_cms_counters,
)
from .registry import register

_DEPTH = 3
_WIDTH = 64

_H = sql_hash60("CAST(d AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")


@register(
    "stream_cms_counters",
    f"""
    WITH exploded AS (
      SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS window_start_epoch,
             d, {_H} % {_WIDTH} AS bucket
      FROM events, UNNEST(GENERATE_SERIES(0, {_DEPTH - 1})) AS t(d)
    )
    SELECT window_start_epoch, d, bucket, COUNT(*) AS cnt
    FROM exploded GROUP BY 1, 2, 3
    """,
    doc="streaming: count-min counters per tumbling hour — state bounded "
    "at depth×width per window however many distinct keys flow through "
    "(streaming/stream.windowed_cms_counters); the streaming face of "
    "q_cms_counts",
)
def stream_cms_counters(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = windowed_cms_counters(
        events,
        F.col("user_id").cast("string"),
        window="1 hour",
        depth=_DEPTH,
        width=_WIDTH,
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").cast("long").alias("window_start_epoch"),
        "d",
        "bucket",
        "cnt",
    )
