"""Benford first-digit analysis.

Data-quality screen on numeric columns: naturally-occurring amounts
follow Benford's law P(d) = log10(1 + 1/d); strong deviation flags
synthetic, truncated, or tampered values. Output: the 9-digit
distribution with observed ppm, Benford-expected ppm, and the
chi-square-style deviation statistic.

Exactness: the first significant digit comes from INTEGER arithmetic,
never floating logs — value is exact 2dp, so cents = ROUND(value*100)
is an exact BIGINT and the leading digit is
  cents DIV 10^(LENGTH(CAST(cents AS VARCHAR)) - 1)
(string length of an integer is engine-stable; LOG10/POWER on doubles
near powers of ten is not). Expected probabilities enter as per-digit
double expressions of the digit alone; the deviation contribution per
digit is ppb-rounded before any summation (the repo's fixed-point
discipline), though here the 9-row frame needs no cross-row sums at
all — each row is independent.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register


@register(
    "q_benford_digits",
    """
    WITH cents AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE value > 0
    ),
    digits AS (
      SELECT c // CAST(POWER(10, LENGTH(CAST(c AS VARCHAR)) - 1)
                       AS BIGINT) AS digit
      FROM cents
    ),
    counts AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counts)
    SELECT digit, n_obs,
           CAST(n_obs * 1000000 // n AS BIGINT) AS obs_ppm,
           CAST(ROUND(1000000 * LN(1.0 + 1.0 / digit) / LN(10.0))
             AS BIGINT) AS benford_ppm,
           CAST(ROUND(1000000000 *
                POWER(CAST(n_obs AS DOUBLE) / n
                      - LN(1.0 + 1.0 / digit) / LN(10.0), 2)
                / (LN(1.0 + 1.0 / digit) / LN(10.0))) AS BIGINT)
             AS dev_ppb
    FROM counts, tot
    """,
    doc="Benford first-digit screen on event values: leading digit via "
    "exact integer cents + string length (no floating logs near "
    "powers of ten), observed vs log10(1+1/d) expected in ppm, "
    "per-digit deviation statistic in ppb — one grouped aggregation",
)
def q_benford_digits(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    cents = ev.where(F.col("value") > 0).select(
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c")
    )
    digits = cents.select(
        F.expr(
            "c DIV CAST(POWER(10, LENGTH(CAST(c AS STRING)) - 1)"
            " AS BIGINT)"
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    tot = counts.agg(F.sum("n_obs").cast("long").alias("n"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.expr("CAST(n_obs * 1000000 DIV n AS BIGINT)").alias(
            "obs_ppm"
        ),
        F.expr(
            "CAST(ROUND(1000000 * LN(1.0 + 1.0 / digit) / LN(10.0))"
            " AS BIGINT)"
        ).alias("benford_ppm"),
        F.expr(
            "CAST(ROUND(1000000000 *"
            " POWER(CAST(n_obs AS DOUBLE) / n"
            "       - LN(1.0 + 1.0 / digit) / LN(10.0), 2)"
            " / (LN(1.0 + 1.0 / digit) / LN(10.0))) AS BIGINT)"
        ).alias("dev_ppb"),
    )
