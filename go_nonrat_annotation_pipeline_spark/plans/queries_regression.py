"""Group-wise OLS regression + daily lag-1 autocorrelation.

Extends the association family (Pearson/Spearman/MI/chi-square) from
"are these related" to the two fit/forecast primitives a feature-triage
pass asks for next:

- ``q_groupwise_ols``: per l_returnflag, the OLS slope/intercept (and
  r) of l_extendedprice on l_quantity from ONE grouped pass of
  decimal-exact moments (2dp data: products are exact in
  DECIMAL(38,4)); the closed forms are evaluated in double from
  identical decimal inputs by the identical expression on both
  engines, ppm-rounded. One scan, one shuffle (the groupBy).
- ``q_autocorr_daily``: lag-1 autocorrelation of the daily event
  count series — daily counts are exact BIGINTs (one date-grouped
  aggregation), consecutive days pair by a self-join on day+1, and
  the Pearson moments over pairs are exact integer sums in
  DECIMAL(38,0). The time-series twin of q_feature_corr.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register


@register(
    "q_groupwise_ols",
    """
    WITH om AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(ROUND(1000000 * (n * sxy - sx * sy)
                / (n * sxx - sx * sx)) AS BIGINT) AS slope_ppm,
           CAST(ROUND(1000000 *
                (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                / n) AS BIGINT) AS intercept_ppm,
           CAST(ROUND(1000000 * (n * sxy - sx * sy)
                / SQRT(n * sxx - sx * sx)
                / SQRT(n * syy - sy * sy)) AS BIGINT) AS r_ppm
    FROM om
    """,
    doc="per-group OLS (slope/intercept/r of extendedprice on quantity "
    "by returnflag) from one grouped pass of decimal-exact moments; "
    "closed forms evaluated by the identical double expression on "
    "both engines, ppm-rounded — one scan, one shuffle",
)
def q_groupwise_ols(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(ROUND(1000000 * (n * sxy - sx * sy)"
            " / (n * sxx - sx * sx)) AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            "CAST(ROUND(1000000 *"
            " (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)"
            " / n) AS BIGINT)"
        ).alias("intercept_ppm"),
        F.expr(
            "CAST(ROUND(1000000 * (n * sxy - sx * sy)"
            " / SQRT(n * sxx - sx * sx)"
            " / SQRT(n * syy - sy * sy)) AS BIGINT)"
        ).alias("r_ppm"),
    )


@register(
    "q_autocorr_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.c AS x, b.c AS y
      FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    am AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * x) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS DECIMAL(38,0)) AS DOUBLE) AS syy,
             CAST(CAST(SUM(x * y) AS DECIMAL(38,0)) AS DOUBLE) AS sxy
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(ROUND(1000000 * (n * sxy - sx * sy)
                / SQRT(n * sxx - sx * sx)
                / SQRT(n * syy - sy * sy)) AS BIGINT) AS autocorr_ppm
    FROM am
    """,
    doc="lag-1 autocorrelation of the daily event-count series: exact "
    "integer daily counts, consecutive days paired by a day+1 "
    "self-join, Pearson moments as exact DECIMAL(38,0) integer sums — "
    "the time-series twin of q_feature_corr, ppm-rounded",
)
def q_autocorr_daily(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("y"))
    pairs = a.join(b, F.col("db") == F.date_add(F.col("da"), 1)).select(
        "x", "y"
    )
    m = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum("y").cast("decimal(38,0)").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("y") * F.col("y"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("syy"),
        F.sum(F.col("x") * F.col("y"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(ROUND(1000000 * (n * sxy - sx * sy)"
            " / SQRT(n * sxx - sx * sx)"
            " / SQRT(n * syy - sy * sy)) AS BIGINT)"
        ).alias("autocorr_ppm"),
    )
