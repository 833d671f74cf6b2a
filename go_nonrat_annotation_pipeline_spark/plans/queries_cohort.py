"""Cohort retention analytics over `events`.

The classic product-analytics matrix: users grouped by first-seen week
(cohort), and for each later week the count still active — churn and
retention read straight off the (cohort_week, week_offset) grid. All
time arithmetic is integer epoch-µs → days → weeks via DIV, so the
boundary is BIGINT end to end. Shapes: one distinct on (user, week)
(map-side partial), one per-user min, one dictionary-sized grid
aggregate — no windows over the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_WEEK_CTE = """
    uw AS (
      SELECT DISTINCT user_id,
             (CAST(epoch_us(ts) AS BIGINT) // 86400000000) // 7 AS wk
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id
    )"""


@register(
    "q_cohort_retention",
    f"""
    WITH {_WEEK_CTE}
    SELECT c.cohort_wk AS cohort_week,
           CAST(u.wk - c.cohort_wk AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_active
    FROM uw u JOIN cohort c USING (user_id)
    GROUP BY c.cohort_wk, week_offset
    """,
    doc="cohort retention grid: users bucketed by first-seen week, "
    "active-user counts per (cohort, week offset) — churn/retention "
    "in one dictionary-sized aggregate, integer epoch-week arithmetic",
)
def q_cohort_retention(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    wk = F.expr(
        "(CAST(unix_micros(ts) AS BIGINT) DIV 86400000000) DIV 7"
    )
    uw = events.select("user_id", wk.alias("wk")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_wk").alias("cohort_week"),
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "q_cohort_sizes",
    f"""
    WITH {_WEEK_CTE}
    SELECT cohort_wk AS cohort_week,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohort GROUP BY cohort_wk
    """,
    doc="cohort denominators: users per first-seen week (divide "
    "n_active by these for retention rates)",
)
def q_cohort_sizes(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    wk = F.expr(
        "(CAST(unix_micros(ts) AS BIGINT) DIV 86400000000) DIV 7"
    )
    uw = events.select("user_id", wk.alias("wk")).distinct()
    return (
        uw.groupBy("user_id")
        .agg(F.min("wk").alias("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
