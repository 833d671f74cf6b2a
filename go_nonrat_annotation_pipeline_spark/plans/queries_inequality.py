"""Distributional inequality statistics: Gini coefficient + Shannon
entropy.

- ``q_gini_spend``: Gini coefficient of per-user total spend — THE
  concentration statistic for "is our corpus/revenue dominated by a
  few heavy keys" (skew triage before choosing a partitioning). Exact
  at scale via the round-13 distributed ranking operator
  (operators/ranking.value_rank2 — no global single-task rank
  window): with doubled tie-averaged ranks rank2 = 2r̄ the classical
  rank form becomes
    G = Σ (rank2_i - n - 1)·x_i / (n · Σ x_i)
  where spend x is a DECIMAL(18,2)-exact sum and rank2·x products are
  DECIMAL(38,2)-exact, so both numerator and denominator are exact
  decimals and G is one identical double expression, ppm-rounded.
- ``q_shannon_entropy``: per-source Shannon entropy of the language
  distribution, the diversity twin of q_mutual_information: per-cell
  -(c/n)·ln(c/n) is a single expression of exact BIGINTs, ppb-rounded
  BEFORE the cross-cell sum (order-independent integer summation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.ranking import value_rank2
from ..sources.testdata import load_table
from .registry import register


@register(
    "q_gini_spend",
    """
    WITH spend AS (
      SELECT user_id,
             SUM(CAST(value AS DECIMAL(18,2))) AS x
      FROM events GROUP BY user_id
    ),
    granked AS (
      SELECT x,
             2 * RANK() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS rank2
      FROM spend
    ),
    g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM((rank2 - (SELECT COUNT(*) FROM spend) - 1) * x)
               AS DOUBLE) AS num,
             CAST(SUM(x) AS DOUBLE) AS tot
      FROM granked
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(ROUND(1000000 * num / (n * tot)) AS BIGINT) AS gini_ppm
    FROM g
    """,
    doc="Gini coefficient of per-user total spend via the distributed "
    "ranking operator (range-partitioned ranks + prefix offsets, no "
    "global rank window); doubled tie-averaged ranks make the rank "
    "form exact — decimal-exact numerator/denominator, one identical "
    "double division, ppm-rounded",
)
def q_gini_spend(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("x")
    )
    ranks = value_rank2(spend, "x")  # (x, cnt, rank2)
    joined = spend.join(ranks.select("x", "rank2"), "x")
    n_frame = spend.agg(F.count(F.lit(1)).alias("n_total"))
    g = joined.crossJoin(F.broadcast(n_frame)).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(
            (F.col("rank2") - F.col("n_total") - F.lit(1))
            * F.col("x")
        )
        .cast("double")
        .alias("num"),
        F.sum("x").cast("double").alias("tot"),
    )
    return g.select(
        F.col("n").cast("long").alias("n_users"),
        F.expr(
            "CAST(ROUND(1000000 * num / (n * tot)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


@register(
    "q_shannon_entropy",
    """
    WITH cells AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM cells GROUP BY 1
    ),
    contrib AS (
      SELECT cells.source, totals.n, totals.n_langs,
             CAST(ROUND(-1000000000 * (CAST(c AS DOUBLE) / n)
                  * LN(CAST(c AS DOUBLE) / n)) AS BIGINT) AS h_ppb
      FROM cells JOIN totals USING (source)
    )
    SELECT source, MAX(n) AS n_docs, MAX(n_langs) AS n_langs,
           CAST(SUM(h_ppb) AS BIGINT) AS entropy_ppb
    FROM contrib GROUP BY source
    """,
    doc="per-source Shannon entropy of the language distribution: "
    "per-cell -(c/n)ln(c/n) from exact BIGINT counts, ppb-rounded "
    "before the order-independent integer cross-cell sum (the "
    "q_mutual_information discipline) — one contingency aggregation",
)
def q_shannon_entropy(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    totals = cells.groupBy("source").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    contrib = cells.join(F.broadcast(totals), "source").withColumn(
        "h_ppb",
        F.expr(
            "CAST(ROUND(-1000000000 * (CAST(c AS DOUBLE) / n)"
            " * LN(CAST(c AS DOUBLE) / n)) AS BIGINT)"
        ),
    )
    return contrib.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max("n_langs").alias("n_langs"),
        F.sum("h_ppb").cast("long").alias("entropy_ppb"),
    )
