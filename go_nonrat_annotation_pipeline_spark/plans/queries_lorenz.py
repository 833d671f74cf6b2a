"""Lorenz-curve deciles (cumulative gains).

The curve behind q_gini_spend's scalar: users ranked by total spend,
split into ten rank deciles, each reporting its share and the
cumulative share of total spend — the "top 10% of users carry X% of
revenue" table. NTILE() is tie-SENSITIVE (position-based, so equal
spends straddle deciles nondeterministically); the decile here is
derived from the round-13 distributed ranking operator's doubled
tie-averaged rank instead:
  decile = (rank2 - 1) * 10 DIV (2 * n)
which is a pure function of the value (all ties share a decile) and
needs no global sort — value_rank2's range exchange + prefix offsets
carry the ordering. Spend sums are DECIMAL(18,2)-exact; shares are
ppm integer fixed-point of exact decimals; the cumulative window runs
over the 10-row decile frame only (column-derived constant partition,
the K-row idiom).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.ranking import value_rank2
from ..sources.testdata import load_table
from .registry import register


@register(
    "q_lorenz_deciles",
    """
    WITH lspend AS (
      SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY user_id
    ),
    lranked AS (
      SELECT x,
             2 * RANK() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS rank2,
             (SELECT COUNT(*) FROM lspend) AS n
      FROM lspend
    ),
    ldec AS (
      SELECT CAST((rank2 - 1) * 10 // (2 * n) AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             SUM(x) AS spend
      FROM lranked GROUP BY 1
    ),
    ltot AS (SELECT SUM(spend) AS tot FROM ldec)
    SELECT decile, n_users,
           CAST(ROUND(1000000 * CAST(spend AS DOUBLE)
                / CAST(tot AS DOUBLE)) AS BIGINT) AS share_ppm,
           CAST(ROUND(1000000 * CAST(SUM(spend) OVER (ORDER BY decile)
                  AS DOUBLE) / CAST(tot AS DOUBLE)) AS BIGINT)
             AS cum_share_ppm
    FROM ldec, ltot
    """,
    doc="Lorenz-curve deciles of per-user spend: tie-stable deciles "
    "from the distributed ranking operator's doubled average rank "
    "(NTILE would split tie groups nondeterministically), "
    "decimal-exact spend sums, ppm shares, cumulative window over the "
    "10-row decile frame only",
)
def q_lorenz_deciles(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x")
    )
    ranks = value_rank2(spend, "x").select("x", "rank2")
    n_frame = spend.agg(F.count(F.lit(1)).alias("n"))
    ldec = (
        spend.join(ranks, "x")
        .crossJoin(F.broadcast(n_frame))
        .groupBy(
            F.expr(
                "CAST((rank2 - 1) * 10 DIV (2 * n) AS BIGINT)"
            ).alias("decile")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("x").alias("spend"),
        )
    )
    tot = ldec.agg(F.sum("spend").alias("tot"))
    wcum = Window.partitionBy(F.col("decile") % 1).orderBy("decile")
    return (
        ldec.crossJoin(F.broadcast(tot))
        .withColumn(
            "share_ppm",
            F.expr(
                "CAST(ROUND(1000000 * CAST(spend AS DOUBLE)"
                " / CAST(tot AS DOUBLE)) AS BIGINT)"
            ),
        )
        .withColumn(
            # cumulative sum stays DECIMAL (exact) — cast to double
            # only at the final division, mirroring the oracle
            "cum_share_ppm",
            F.round(
                F.lit(1_000_000)
                * F.sum("spend").over(wcum).cast("double")
                / F.col("tot").cast("double")
            ).cast("long"),
        )
        .select("decile", "n_users", "share_ppm", "cum_share_ppm")
    )
