"""Stream-static enrichment query.

The lookup-join shape every streaming pipeline hits: a keyed event
stream broadcast-joins a STATIC dimension inside each micro-batch
(Spark re-plans the static side per batch; the dimension is
dimension-sized, so the broadcast is legitimate at any stream rate —
the streaming mirror of S6's batch dim join), then a watermarked
windowed aggregate per dimension attribute.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from ..streaming.stream import read_events_stream, run_to_memory
from .registry import register


@register(
    "stream_static_enrich",
    """
    SELECT CAST(EPOCH(DATE_TRUNC('hour', e.ts)) AS BIGINT) AS window_start_epoch,
           n.n_name, COUNT(*) AS n
    FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY 1, 2
    """,
    doc="streaming: stream-static broadcast dim join (the streaming "
    "mirror of S6) + watermarked tumbling counts per dimension "
    "attribute; window start as epoch-seconds BIGINT",
)
def stream_static_enrich(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = events.withColumn(
        "nk", F.pmod(F.col("user_id"), F.lit(25))
    ).join(F.broadcast(nation), F.col("nk") == F.col("n_nationkey"))
    agg = (
        enriched.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").cast("long").alias("window_start_epoch"),
        "n_name",
        "n",
    )
