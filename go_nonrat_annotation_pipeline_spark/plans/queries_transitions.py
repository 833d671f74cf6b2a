"""Event-sequence transition analytics over `events`.

The Markov-chain view of a clickstream: per-user event sequences
(ordered by ts with event_id tiebreak — the repo's standard
deterministic ordering) yield (prev → next) transition counts, and the
argmax per previous state is the classic next-event predictor with its
support share. One shuffle (partition by user) for the lag, one hash
aggregate for the counts — the 100 TB shape is a single WindowExec
followed by a dictionary-sized aggregate (|event types|² groups).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.testdata import load_table
from .registry import register

_TRANS_CTES = """
    seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )"""


def _transitions(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_event_transitions",
    f"WITH {_TRANS_CTES} SELECT prev_type, event_type, n FROM trans",
    doc="per-user event-sequence transition matrix: (prev → next) "
    "counts from one lag window + one dictionary-sized aggregate — "
    "the Markov view of the event log",
)
def q_event_transitions(spark, sf_dir):
    return _transitions(spark, sf_dir)


@register(
    "q_next_event_prediction",
    f"""
    WITH {_TRANS_CTES}
    , tot AS (
      SELECT prev_type, CAST(SUM(n) AS BIGINT) AS total
      FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type,
           t.event_type AS predicted,
           t.n,
           CAST(FLOOR(t.n * 1000.0 / tot.total) AS BIGINT) AS permille
    FROM (
      SELECT prev_type, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY prev_type
                                ORDER BY n DESC, event_type) AS rn
      FROM trans) t
    JOIN tot USING (prev_type)
    WHERE t.rn = 1
    """,
    doc="argmax next-event predictor per previous state with its "
    "support share (floor permille — one identical double division "
    "per row, integer-exact cross-engine); ties break on event_type",
)
def q_next_event_prediction(spark, sf_dir):
    trans = _transitions(spark, sf_dir)
    tot = trans.groupBy("prev_type").agg(F.sum("n").alias("total"))
    w = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), "event_type"
    )
    top = (
        trans.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return top.join(tot, "prev_type").select(
        "prev_type",
        F.col("event_type").alias("predicted"),
        "n",
        F.floor(F.col("n") * 1000.0 / F.col("total"))
        .cast("long")
        .alias("permille"),
    )
