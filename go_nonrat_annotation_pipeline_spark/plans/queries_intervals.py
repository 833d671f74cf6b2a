"""Interval-overlap join query (operators/intervals.py).

Two interval tables derive from `events` (purchase activity windows ×
error incident windows, durations keyed off event_id so everything is
integer-exact); the overlap report is the classic temporal-join shape
(which sessions were hit by which incidents, and for how long).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import intervals as IV
from ..sources.testdata import load_table
from .registry import register

# durations: 1..120 s (purchases), 1..300 s (errors); bin = 600 s, so
# every interval touches at most 2 bins
_BIN_US = 600_000_000
_A_DUR = "(event_id % 120 + 1) * 1000000"
_B_DUR = "(event_id % 300 + 1) * 1000000"

_A_CTE = f"""(
  SELECT event_id AS a_id,
         CAST(epoch_us(ts) AS BIGINT) AS a_start,
         CAST(epoch_us(ts) + {_A_DUR} AS BIGINT) AS a_end
  FROM events WHERE event_type = 'purchase'
)"""
_B_CTE = f"""(
  SELECT event_id AS b_id,
         CAST(epoch_us(ts) AS BIGINT) AS b_start,
         CAST(epoch_us(ts) + {_B_DUR} AS BIGINT) AS b_end
  FROM events WHERE event_type = 'error'
)"""


@register(
    "q_interval_overlap_join",
    IV.sql_interval_overlap_join(_A_CTE, _B_CTE, _BIN_US),
    doc="temporal join: interval × interval OVERLAP (purchase windows × "
    "error incidents) via time-bin bucketing — one bin equi-join + "
    "exact predicate, never the BroadcastNestedLoopJoin Spark would "
    "pick for a raw range-pair condition; all-integer µs arithmetic "
    "(operators/intervals.interval_overlap_join)",
)
def q_interval_overlap_join(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    a = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("a_id"),
        us.alias("a_start"),
        (us + (F.col("event_id") % 120 + 1) * 1_000_000).alias("a_end"),
    )
    b = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("b_id"),
        us.alias("b_start"),
        (us + (F.col("event_id") % 300 + 1) * 1_000_000).alias("b_end"),
    )
    return IV.interval_overlap_join(a, b, _BIN_US)
