"""Association rules over order baskets (A-priori pruned).

Market-basket mining, the classical co-occurrence operator the PMI
collocations row covers for text but nothing covers for transactions:
baskets = orders, items = part categories (l_partkey % 100), rules
A -> B with support / confidence / lift (Agrawal & Srikant, VLDB
1994). Thresholds are RELATIVE (pair support >= 0.2% of baskets) so
the query is meaningful at every scale factor without text changes.

Spark-first shape with the A-priori prune: item supports first (one
grouped pass), the pair self-join runs over FREQUENT items only —
infrequent items can never form a frequent pair, so the basket
self-join's per-basket fanout is bounded by the frequent-item count,
not the basket width. The join is basket-partitioned (shuffle key =
order key); metrics are exact-integer fixed point: conf_ppm =
sup_ab * 1e6 DIV sup_a, lift_ppm = sup_ab * n * 1e6 DIV
(sup_a * sup_b) — non-negative BIGINT DIV agrees across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

# pair support >= n_baskets * _SUP_NUM / _SUP_DEN  (0.2%)
_SUP_NUM, _SUP_DEN = 2, 1000


@register(
    "q_assoc_rules",
    f"""
    WITH itemsb AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey % 100 AS p
      FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM itemsb),
    isup AS (
      SELECT p, CAST(COUNT(*) AS BIGINT) AS sup FROM itemsb GROUP BY 1
    ),
    freq AS (
      SELECT p, sup FROM isup, nb
      WHERE sup * {_SUP_DEN} >= n * {_SUP_NUM}
    ),
    fitems AS (
      SELECT i.o, i.p, f.sup FROM itemsb i JOIN freq f USING (p)
    ),
    psup AS (
      SELECT a.p AS pa, b.p AS pb,
             CAST(COUNT(*) AS BIGINT) AS sup_ab,
             MAX(a.sup) AS sup_a, MAX(b.sup) AS sup_b
      FROM fitems a JOIN fitems b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    fpairs AS (
      SELECT pa, pb, sup_ab, sup_a, sup_b FROM psup, nb
      WHERE sup_ab * {_SUP_DEN} >= n * {_SUP_NUM}
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent,
             sup_ab, sup_a AS sup_ante, sup_b AS sup_cons FROM fpairs
      UNION ALL
      SELECT pb, pa, sup_ab, sup_b, sup_a FROM fpairs
    )
    SELECT antecedent, consequent, sup_ab,
           CAST(sup_ab * 1000000 // sup_ante AS BIGINT) AS conf_ppm,
           CAST(sup_ab * n * 1000000 // (sup_ante * sup_cons) AS BIGINT)
             AS lift_ppm
    FROM rules, nb
    """,
    doc="A-priori association rules over order baskets (items = part "
    "categories): item supports first, the pair self-join runs over "
    "frequent items only (infrequent items cannot form frequent "
    "pairs), basket-partitioned shuffle; relative 0.2% support keeps "
    "the query scale-invariant; confidence/lift in exact integer "
    "fixed-point (non-negative BIGINT DIV)",
)
def q_assoc_rules(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"),
        (F.col("l_partkey") % 100).alias("p"),
    ).distinct()
    nb = items.agg(
        F.countDistinct("o").cast("long").alias("n")
    )
    isup = items.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("sup")
    )
    freq = isup.crossJoin(F.broadcast(nb)).where(
        F.col("sup") * _SUP_DEN >= F.col("n") * _SUP_NUM
    ).select("p", "sup")
    fitems = items.join(F.broadcast(freq), "p").select("o", "p", "sup")
    a = fitems.select(
        "o", F.col("p").alias("pa"), F.col("sup").alias("sa")
    )
    b = fitems.select(
        "o", F.col("p").alias("pb"), F.col("sup").alias("sb")
    )
    psup = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sup_ab"),
            F.max("sa").alias("sup_a"),
            F.max("sb").alias("sup_b"),
        )
    )
    fpairs = psup.crossJoin(F.broadcast(nb)).where(
        F.col("sup_ab") * _SUP_DEN >= F.col("n") * _SUP_NUM
    )
    rules = fpairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "sup_ab",
        F.col("sup_a").alias("sup_ante"),
        F.col("sup_b").alias("sup_cons"),
        "n",
    ).unionByName(
        fpairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "sup_ab",
            F.col("sup_b").alias("sup_ante"),
            F.col("sup_a").alias("sup_cons"),
            "n",
        )
    )
    return rules.select(
        "antecedent",
        "consequent",
        "sup_ab",
        F.expr(
            "CAST(sup_ab * 1000000 DIV sup_ante AS BIGINT)"
        ).alias("conf_ppm"),
        F.expr(
            "CAST(sup_ab * n * 1000000 DIV (sup_ante * sup_cons)"
            " AS BIGINT)"
        ).alias("lift_ppm"),
    )
