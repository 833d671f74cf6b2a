"""Association statistics: Pearson correlation matrix + mutual
information.

The analytics family covers distributional shape (quantiles,
histograms, outliers) but nothing RELATING columns — the first thing
feature triage / leakage hunting asks for. Two classical measures:

- ``q_feature_corr``: pairwise Pearson r over the lineitem numeric
  columns from ONE pass of decimal-exact moments (n, Sx, Sy, Sxx,
  Syy, Sxy as DECIMAL sums — the repo's float discipline: 2dp data is
  exact in DECIMAL(18,2)); the final r = (n*Sxy - Sx*Sy) /
  sqrt(n*Sxx - Sx^2) / sqrt(n*Syy - Sy^2) is evaluated in double from
  identical decimal inputs by the identical expression on both
  engines (no cross-row float summation), rounded to ppm. The 6 pair
  rows are assembled from the single agg row via an exploded struct
  array — no second scan, no driver loop.

- ``q_mutual_information``: MI(status, priority) over orders from the
  contingency counts: per-cell contribution
  (c/n) * ln(c*n / (cs*cp)) is a single expression of exact BIGINTs,
  rounded to ppb BEFORE summation so the cross-cell sum is an integer
  sum — deterministic on both engines regardless of summation order
  (the q_pagerank_topk fixed-point discipline).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_PAIRS = [
    (a, b) for i, a in enumerate(_COLS) for b in _COLS[i + 1:]
]


def _dec(c: str) -> str:
    return f"CAST({c} AS DECIMAL(18,2))"


def _corr_sql() -> str:
    moments = ", ".join(
        [f"CAST(COUNT(*) AS DOUBLE) AS n"]
        + [
            f"CAST(CAST(SUM({_dec(c)}) AS DECIMAL(38,4)) AS DOUBLE) AS s_{c}"
            for c in _COLS
        ]
        + [
            f"CAST(CAST(SUM({_dec(a)} * {_dec(b)}) AS DECIMAL(38,4)) AS DOUBLE)"
            f" AS s_{a}_{b}"
            for a in _COLS
            for b in _COLS
            if a <= b
        ]
    )

    def cell(a: str, b: str) -> str:
        sxy = f"s_{a}_{b}" if a <= b else f"s_{b}_{a}"
        return f"""
      SELECT '{a}' AS col_a, '{b}' AS col_b,
             CAST(n AS BIGINT) AS n,
             CAST(ROUND(1000000 * (n * {sxy} - s_{a} * s_{b})
                  / SQRT(n * s_{a}_{a} - s_{a} * s_{a})
                  / SQRT(n * s_{b}_{b} - s_{b} * s_{b})) AS BIGINT)
               AS corr_ppm
      FROM m"""

    return (
        f"WITH m AS (SELECT {moments} FROM lineitem)\n"
        + " UNION ALL ".join(cell(a, b) for a, b in _PAIRS)
    )


@register(
    "q_feature_corr",
    _corr_sql(),
    doc="pairwise Pearson correlation over the lineitem numerics from "
    "ONE pass of decimal-exact moments; the r formula runs in double "
    "on identical decimal inputs with the identical expression on "
    "both engines (no cross-row float summation), rounded to ppm; "
    "pair rows assembled via an exploded struct array, no second scan",
)
def q_feature_corr(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in _COLS:
        aggs.append(
            F.sum(F.expr(_dec(c)))
            .cast("decimal(38,4)")
            .cast("double")
            .alias(f"s_{c}")
        )
    for a in _COLS:
        for b in _COLS:
            if a <= b:
                aggs.append(
                    F.sum(F.expr(f"{_dec(a)} * {_dec(b)}"))
                    .cast("decimal(38,4)")
                    .cast("double")
                    .alias(f"s_{a}_{b}")
                )
    m = li.agg(*aggs)

    def cell(a: str, b: str):
        sxy = f"s_{a}_{b}" if a <= b else f"s_{b}_{a}"
        expr = (
            f"CAST(ROUND(1000000 * (n * {sxy} - s_{a} * s_{b})"
            f" / SQRT(n * s_{a}_{a} - s_{a} * s_{a})"
            f" / SQRT(n * s_{b}_{b} - s_{b} * s_{b})) AS BIGINT)"
        )
        return F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col("n").cast("long").alias("n"),
            F.expr(expr).alias("corr_ppm"),
        )

    return (
        m.select(
            F.explode(
                F.array(*[cell(a, b) for a, b in _PAIRS])
            ).alias("r")
        )
        .select("r.col_a", "r.col_b", "r.n", "r.corr_ppm")
    )


@register(
    "q_mutual_information",
    """
    WITH cells AS (
      SELECT o_orderstatus AS s, o_orderpriority AS p,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    ms AS (SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM cells GROUP BY s),
    mp AS (SELECT p, CAST(SUM(c) AS BIGINT) AS cp FROM cells GROUP BY p),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           (SELECT n FROM n) AS n,
           CAST(SUM(CAST(ROUND(
             1000000000 * (CAST(c AS DOUBLE) / n.n)
             * LN(CAST(c AS DOUBLE) * n.n
                  / (CAST(cs AS DOUBLE) * CAST(cp AS DOUBLE)))
           ) AS BIGINT)) AS BIGINT) AS mi_ppb
    FROM cells JOIN ms USING (s) JOIN mp USING (p) CROSS JOIN n
    """,
    doc="mutual information between two categorical columns from the "
    "contingency counts: per-cell contributions are single expressions "
    "of exact BIGINTs rounded to ppb BEFORE the cross-cell sum, so the "
    "total is an integer sum — order-insensitive and hash-exact on "
    "both engines",
)
def q_mutual_information(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    cells = (
        o.groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    ms = cells.groupBy("s").agg(F.sum("c").cast("long").alias("cs"))
    mp = cells.groupBy("p").agg(F.sum("c").cast("long").alias("cp"))
    n = cells.agg(F.sum("c").cast("long").alias("n"))
    contrib = (
        cells.join(F.broadcast(ms), "s")
        .join(F.broadcast(mp), "p")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "mi_c",
            F.expr(
                "CAST(ROUND(1000000000 * (CAST(c AS DOUBLE) / n)"
                " * LN(CAST(c AS DOUBLE) * n"
                "      / (CAST(cs AS DOUBLE) * CAST(cp AS DOUBLE)))"
                ") AS BIGINT)"
            ),
        )
    )
    return contrib.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.first("n").cast("long").alias("n"),
        F.sum("mi_c").cast("long").alias("mi_ppb"),
    )
