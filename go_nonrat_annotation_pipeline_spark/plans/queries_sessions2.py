"""Bounce-rate report over gap sessions.

The engagement metric the sessionizers (w2 / w3) stop short of:
how many gap-sessions contain exactly ONE event. Same construction as
``w2_sessionize`` — boundary flag from a per-user LAG, session id as
the running flag sum — then one (user, session) count aggregate and a
single summary row. Gap arithmetic is exact epoch microseconds
(EPOCH_US / unix_micros — the float-EPOCH() gotcha), window order
tie-broken by event_id so equal-timestamp bursts sessionize
identically on both engines. All windows partition by user; nothing
corpus-sized crosses an unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from .registry import register

_GAP_US = 1_800_000_000  # 30 min


@register(
    "q_bounce_rate",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, EPOCH_US(ts) AS ts_us FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                    OR ts_us - LAG(ts_us) OVER w > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS sid
      FROM flagged
    ),
    per AS (
      SELECT user_id, sid, COUNT(*) AS n FROM sess GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_ppm,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM per
    """,
    doc="bounce rate over 30-min gap sessions: per-user LAG boundary "
    "flag + running-sum session ids (the w2 construction), one "
    "(user, session) aggregate, single summary row; exact "
    "epoch-microsecond gaps, event_id tiebreak, integer bounce_ppm",
)
def q_bounce_rate(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0),
    )
    sess = flagged.withColumn("sid", F.sum("is_new").over(w))
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.expr(
            "CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("bounce_ppm"),
        F.max("n").cast("long").alias("max_session_events"),
    )
