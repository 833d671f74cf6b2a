"""Rank and contingency association statistics: Spearman's rho +
chi-square / Cramer's V.

Completes the association family started by q_feature_corr (Pearson)
and q_mutual_information: Spearman catches MONOTONE non-linear
relations Pearson misses, chi-square/Cramer's V give the classical
categorical independence test next to MI's information-theoretic one.

- ``q_spearman_corr``: rho = Pearson on tie-averaged ranks. The ranks
  come from ``operators/ranking.value_rank2`` — distinct-value
  collapse, range-repartitioned local ranks, broadcast prefix offsets
  — NEVER a global single-task RANK() window (l_extendedprice has
  ~n distinct values; `RANK() OVER (ORDER BY v)` would funnel the
  corpus through one task). Doubled ranks (2*avg rank, always an
  integer) keep every moment an exact integer; sums are DECIMAL(38,0)
  (overflow-safe at any corpus size) and the final rho is one
  identical double expression on both engines, rounded to ppm.
- ``q_chi_square``: chi-square of independence + Cramer's V over the
  (l_returnflag, l_linestatus) contingency table. Per-cell
  (o - e)^2/e is a single expression of exact BIGINT counts, rounded
  to ppb BEFORE the cross-cell sum (integer summation — the
  q_mutual_information discipline), so the statistic is
  order-independent and hash-exact; V is then a deterministic scalar
  function of the integer chi2 and n.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.ranking import value_rank2
from ..sources.testdata import load_table
from .registry import register

_X, _Y = "l_quantity", "l_extendedprice"


@register(
    "q_spearman_corr",
    f"""
    WITH spts AS (
      SELECT {_X} AS x, {_Y} AS y FROM lineitem
      WHERE {_X} IS NOT NULL AND {_Y} IS NOT NULL
    ),
    ranked AS (
      SELECT
        2 * RANK() OVER (ORDER BY x)
          + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
        2 * RANK() OVER (ORDER BY y)
          + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
      FROM spts
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(rx) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
             CAST(CAST(SUM(ry) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
             CAST(CAST(SUM(rx * rx) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(ry * ry) AS DECIMAL(38,0)) AS DOUBLE) AS syy,
             CAST(CAST(SUM(rx * ry) AS DECIMAL(38,0)) AS DOUBLE) AS sxy
      FROM ranked
    )
    SELECT '{_X}' AS col_a, '{_Y}' AS col_b,
           CAST(n AS BIGINT) AS n,
           CAST(ROUND(1000000 * (n * sxy - sx * sy)
                / SQRT(n * sxx - sx * sx)
                / SQRT(n * syy - sy * sy)) AS BIGINT) AS spearman_ppm
    FROM m
    """,
    doc="Spearman rank correlation via the distributed ranking "
    "operator (distinct-value collapse + range-partitioned local "
    "ranks + broadcast prefix offsets — no global single-task rank "
    "window); doubled tie-averaged ranks keep all moments exact "
    "integers, DECIMAL(38,0) sums, identical final double expression "
    "both engines, ppm-rounded",
)
def q_spearman_corr(spark, sf_dir):
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col(_X).isNotNull() & F.col(_Y).isNotNull())
        .select(F.col(_X).alias("x"), F.col(_Y).alias("y"))
    )
    rx = value_rank2(li, "x").select("x", F.col("rank2").alias("rx"))
    ry = value_rank2(li, "y").select("y", F.col("rank2").alias("ry"))
    ranked = li.join(rx, "x").join(ry, "y")
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").cast("decimal(38,0)").cast("double").alias("sx"),
        F.sum("ry").cast("decimal(38,0)").cast("double").alias("sy"),
        F.sum(F.col("rx") * F.col("rx"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("ry") * F.col("ry"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("syy"),
        F.sum(F.col("rx") * F.col("ry"))
        .cast("decimal(38,0)")
        .cast("double")
        .alias("sxy"),
    )
    return m.select(
        F.lit(_X).alias("col_a"),
        F.lit(_Y).alias("col_b"),
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(ROUND(1000000 * (n * sxy - sx * sy)"
            " / SQRT(n * sxx - sx * sx)"
            " / SQRT(n * syy - sy * sy)) AS BIGINT)"
        ).alias("spearman_ppm"),
    )


_A, _B2 = "l_returnflag", "l_linestatus"


@register(
    "q_chi_square",
    f"""
    WITH cells AS (
      SELECT {_A} AS a, {_B2} AS b, CAST(COUNT(*) AS BIGINT) AS o
      FROM lineitem GROUP BY 1, 2
    ),
    rs AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
    cs AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT a) AS BIGINT) AS nr,
                   CAST(COUNT(DISTINCT b) AS BIGINT) AS nc
            FROM cells),
    contrib AS (
      SELECT CAST(ROUND(1000000000 *
               POWER(CAST(o AS DOUBLE)
                     - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                       / CAST(n AS DOUBLE), 2)
               / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)
                  / CAST(n AS DOUBLE))) AS BIGINT) AS c_ppb
      FROM cells JOIN rs USING (a) JOIN cs USING (b) CROSS JOIN tot
    )
    SELECT n, nr, nc,
           CAST(SUM(c_ppb) AS BIGINT) AS chi2_ppb,
           CAST(ROUND(1000000 * SQRT(
                 (CAST(SUM(c_ppb) AS DOUBLE) / 1000000000)
                 / (CAST(n AS DOUBLE)
                    * (LEAST(nr, nc) - 1)))) AS BIGINT) AS cramers_v_ppm
    FROM contrib CROSS JOIN tot
    GROUP BY n, nr, nc
    """,
    doc="chi-square independence test + Cramer's V over the "
    "(l_returnflag, l_linestatus) contingency table: per-cell "
    "(o-e)^2/e from exact BIGINT counts, ppb-rounded BEFORE the "
    "cross-cell sum so the statistic is an order-independent integer "
    "sum; V is a deterministic scalar of the integer chi2 — one "
    "contingency aggregation, margins by tiny broadcast joins",
)
def q_chi_square(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col(_A).alias("a"), F.col(_B2).alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rs = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    cs = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("nr"),
        F.countDistinct("b").cast("long").alias("nc"),
    )
    contrib = (
        cells.join(F.broadcast(rs), "a")
        .join(F.broadcast(cs), "b")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "c_ppb",
            F.expr(
                "CAST(ROUND(1000000000 *"
                " POWER(CAST(o AS DOUBLE)"
                "       - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)"
                "         / CAST(n AS DOUBLE), 2)"
                " / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)"
                "    / CAST(n AS DOUBLE))) AS BIGINT)"
            ),
        )
    )
    return (
        contrib.groupBy("n", "nr", "nc")
        .agg(F.sum("c_ppb").cast("long").alias("chi2_ppb"))
        .select(
            "n",
            "nr",
            "nc",
            "chi2_ppb",
            F.expr(
                "CAST(ROUND(1000000 * SQRT("
                " (CAST(chi2_ppb AS DOUBLE) / 1000000000)"
                " / (CAST(n AS DOUBLE) * (LEAST(nr, nc) - 1))))"
                " AS BIGINT)"
            ).alias("cramers_v_ppm"),
        )
    )
