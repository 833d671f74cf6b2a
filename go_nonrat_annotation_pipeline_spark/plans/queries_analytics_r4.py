"""Decimal-exact outlier detection and ordered-funnel analysis."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register


@register(
    "q_value_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(20,6))) AS s,
             SUM(CAST(value AS DECIMAL(20,6)) * CAST(value AS DECIMAL(20,6)))
               AS ss
      FROM events
      GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) FILTER (
             -- |x - mean| > 3*std  <=>  n^2*(x - s/n)^2 > 9*n*var*n ...
             -- kept sqrt-free and division-free: (n*x - s)^2 > 9*(n*ss - s*s)
             WHERE (t.n * CAST(e.value AS DECIMAL(20,6)) - t.s)
                 * (t.n * CAST(e.value AS DECIMAL(20,6)) - t.s)
                 > 9 * (t.n * t.ss - t.s * t.s)
           ) AS outliers,
           COUNT(*) AS total
    FROM events e JOIN stats t ON t.event_type = e.event_type
    GROUP BY e.event_type
    """,
    doc="decimal-exact 3-sigma outlier counts per event_type: the test "
    "(n*x - s)^2 > 9*(n*ss - s*s) is sqrt- and division-free, so the "
    "whole detection is exact integer/decimal arithmetic cross-engine; "
    "one stats aggregate + one broadcast join back (no window over the "
    "fact table)",
)
def q_value_outliers(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(20,6)")
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    )
    dev = F.col("n") * v - F.col("s")
    flagged = (
        events.join(F.broadcast(stats), "event_type")
        .withColumn(
            "is_out",
            dev * dev
            > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count_if(F.col("is_out")).alias("outliers"),
        F.count(F.lit(1)).alias("total"),
    )


@register(
    "q_funnel_ordered",
    """
    WITH stages AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
      COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
        AS n_click_after_view,
      COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click)
        AS n_purchase_after_click
    FROM stages
    """,
    doc="ordered funnel (view -> click -> purchase): first-touch "
    "timestamps per stage in ONE conditional-aggregate pass over the "
    "fact table (no self-joins, no windows), then ordering predicates "
    "on the per-user stage row",
)
def q_funnel_ordered(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    has_view = F.col("t_view").isNotNull()
    click_after = has_view & (F.col("t_click") > F.col("t_view"))
    purchase_after = click_after & (F.col("t_purchase") > F.col("t_click"))
    return stages.agg(
        F.count_if(has_view).alias("n_view"),
        F.count_if(click_after).alias("n_click_after_view"),
        F.count_if(purchase_after).alias("n_purchase_after_click"),
    )
