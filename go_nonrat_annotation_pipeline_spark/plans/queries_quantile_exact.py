"""Exact interpolated quantiles in integer fixed-point.

`percentile_cont` semantics (SQL:2003 linear interpolation) without
engine-native percentile functions or float arithmetic: for quantile
q over n sorted values, the continuous position is
pos_ppm = (n−1)·q_ppm, the bracketing ranks are lo = pos_ppm DIV 1e6
(0-based) and lo+1, and the interpolated value in ppm is

    v_lo·1e6 + (v_hi − v_lo)·(pos_ppm mod 1e6)

— every term BIGINT, so both engines agree bit-for-bit (the repo's
fixed-point discipline; engine-native percentile_cont differs in its
double rounding and DuckDB's QUANTILE_CONT types DECIMAL). This is
the EXACT complement to the mergeable-histogram approximate quantiles
(q_hist_quantile_state): one sort-window per group when exact answers
are required, sketches when a pass over sorted data is too expensive.

Scale shape: one hash partition by group + per-group rank window
(the same single exchange every grouped window pays); the quantile
extraction joins two ranked rows per (group, q) — no global sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.testdata import load_table
from .registry import register

PPM = 1_000_000
_QS = (250_000, 500_000, 900_000)  # p25, p50, p90


def _oracle() -> str:
    qsel = []
    for q in _QS:
        qsel.append(f"""
    SELECT g, CAST({q} AS BIGINT) AS q_ppm,
           CAST(a.v * {PPM} + (b.v - a.v) *
                (((n - 1) * {q}) % {PPM}) AS BIGINT) AS value_ppm,
           n
    FROM (SELECT g, v, n FROM qx_ranked
          WHERE rn - 1 = ((n - 1) * {q}) // {PPM}) a
    JOIN (SELECT g, v FROM qx_ranked
          WHERE rn - 1 = LEAST(n - 1, ((n - 1) * {q}) // {PPM} + 1)) b
    USING (g)""")
    return (
        """
    WITH qx_ranked AS (
      SELECT l_orderkey % 16 AS g, CAST(l_quantity AS BIGINT) AS v,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey % 16
                                ORDER BY l_quantity, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_orderkey % 16) AS n
      FROM lineitem
    )
    """
        + " UNION ALL ".join(qsel)
    )


@register(
    "q_quantile_cont_exact",
    _oracle(),
    doc="exact percentile_cont (p25/p50/p90) per group in ppm "
    "fixed-point: bracketing ranks from one per-group sort window, "
    "linear interpolation in pure BIGINT — bit-identical across "
    "engines where native percentile functions drift in double "
    "rounding; the exact complement to the mergeable-histogram "
    "approximate quantiles",
)
def q_quantile_cont_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("g").orderBy(
        "v", "l_orderkey", "l_linenumber"
    )
    ranked = (
        li.select(
            (F.col("l_orderkey") % 16).alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
            "l_orderkey",
            "l_linenumber",
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n",
            F.count(F.lit(1)).over(
                Window.partitionBy("g").rowsBetween(
                    Window.unboundedPreceding,
                    Window.unboundedFollowing,
                )
            ),
        )
        .select("g", "v", "rn", "n")
        .localCheckpoint()
    )
    out = None
    for q in _QS:
        lo = ranked.where(
            F.expr(f"rn - 1 = ((n - 1) * {q}L) DIV {PPM}L")
        ).select("g", F.col("v").alias("_vlo"), "n")
        hi = ranked.where(
            F.expr(
                f"rn - 1 = LEAST(n - 1, ((n - 1) * {q}L) DIV {PPM}L + 1)"
            )
        ).select("g", F.col("v").alias("_vhi"))
        one = lo.join(hi, "g").select(
            "g",
            F.lit(q).cast("long").alias("q_ppm"),
            F.expr(
                f"CAST(_vlo * {PPM}L + (_vhi - _vlo) * "
                f"(((n - 1) * {q}L) % {PPM}L) AS BIGINT)"
            ).alias("value_ppm"),
            F.col("n").cast("long").alias("n"),
        )
        out = one if out is None else out.unionByName(one)
    return out
