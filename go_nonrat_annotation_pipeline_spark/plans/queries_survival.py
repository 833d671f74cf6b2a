"""Kaplan-Meier survival curve over user lifetimes.

Retention analysis the cohort family (q_cohort_retention) approximates
with fixed windows: the Kaplan-Meier estimator
  S(t) = Π_{t_i <= t} (1 - d_i / n_i)
over user LIFETIMES (days between first and last event — every user
uncensored in this finite log). The product over event times is the
classical order-dependent-float trap; the repo discipline makes it
exact: per-time ln(1 - d/n) is ppb-rounded to a BIGINT, the running
product becomes a running INTEGER SUM of logs (a cumulative window
over the ~tens of distinct lifetime days — partitioned by a
column-derived constant, the K-row window idiom), and S(t) = exp of
that integer is a deterministic scalar both engines evaluate
identically, ppm-rounded.

One aggregation builds (t, d_t); at-risk n_t = total - cumulative
deaths before t is the same cumulative window. Shuffle footprint:
events -> per-user first/last (one groupBy), lifetimes -> day counts
(one groupBy), then day-domain-sized frames only.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from .registry import register


@register(
    "q_kaplan_meier",
    """
    WITH km_life AS (
      SELECT user_id,
             DATE_DIFF('day', MIN(CAST(ts AS DATE)),
                       MAX(CAST(ts AS DATE))) AS t
      FROM events GROUP BY user_id
    ),
    km_d AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS d
      FROM km_life GROUP BY t
    ),
    km_tot AS (SELECT CAST(SUM(d) AS BIGINT) AS total FROM km_d),
    km_risk AS (
      SELECT t, d,
             CAST(total - COALESCE(SUM(d) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
      FROM km_d, km_tot
    ),
    km_ln AS (
      SELECT t, d, n_at_risk,
             CAST(ROUND(1000000000 *
                  LN(1.0 - CAST(d AS DOUBLE) / n_at_risk)) AS BIGINT)
               AS ln_ppb
      FROM km_risk WHERE d < n_at_risk
    )
    SELECT t, d, n_at_risk,
           CAST(SUM(ln_ppb) OVER (ORDER BY t) AS BIGINT) AS ln_s_ppb,
           CAST(ROUND(1000000 * EXP(
                CAST(SUM(ln_ppb) OVER (ORDER BY t) AS DOUBLE)
                / 1000000000)) AS BIGINT) AS km_ppm
    FROM km_ln
    """,
    doc="Kaplan-Meier survival of user lifetimes: the order-dependent "
    "float product becomes an exact integer cumulative sum of "
    "ppb-rounded per-time ln(1 - d/n) terms over the day-domain-sized "
    "frame; S(t) = exp of that integer, identical on both engines, "
    "ppm-rounded — two groupBys on the corpus, windows only over the "
    "distinct-day domain",
)
def q_kaplan_meier(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")),
            F.min(F.col("ts").cast("date")),
        ).alias("t")
    )
    d = life.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    tot = d.agg(F.sum("d").cast("long").alias("total"))
    # day-domain-sized frame: column-derived constant partition keeps
    # the cumulative windows warning-free (the K-row window idiom)
    wprev = (
        Window.partitionBy(F.col("t") % 1)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = Window.partitionBy(F.col("t") % 1).orderBy("t")
    risk = (
        d.crossJoin(F.broadcast(tot))
        .withColumn(
            "n_at_risk",
            F.col("total")
            - F.coalesce(F.sum("d").over(wprev), F.lit(0)),
        )
        .drop("total")
    )
    ln = risk.where(F.col("d") < F.col("n_at_risk")).withColumn(
        "ln_ppb",
        F.expr(
            "CAST(ROUND(1000000000 *"
            " LN(1.0 - CAST(d AS DOUBLE) / n_at_risk)) AS BIGINT)"
        ),
    )
    return ln.select(
        "t",
        "d",
        "n_at_risk",
        F.sum("ln_ppb").over(wcum).cast("long").alias("ln_s_ppb"),
        F.expr(
            "CAST(ROUND(1000000 * EXP("
            " CAST(SUM(ln_ppb) OVER ("
            "   PARTITION BY t % 1 ORDER BY t) AS DOUBLE)"
            " / 1000000000)) AS BIGINT)"
        ).alias("km_ppm"),
    )
