"""Hilbert-curve layout queries (operators/hilbert.py).

``q_hilbert_layout`` is the Hilbert twin of q_zorder_layout (per-bucket
min/max envelopes on both dimensions); ``q_hilbert_locality`` is the
measurement that justifies paying for the fancier curve: total grid
distance walked between consecutive rows under Hilbert order vs
Z-order vs natural row order. Hilbert has no long diagonal jumps, so
its walk is the shortest — tighter per-file envelopes at the same file
count.

The locality audit uses a GLOBAL-order lag window (one partition) —
fine for a diagnostic over a bounded sample, and flagged as such: at
100 TB you run it on a per-partition sample, not the full table; the
layout WRITE itself needs only a range-partitioned sort by the key,
never a single-task window.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import layout as L
from ..operators.hilbert import sql_hilbert_ctes, with_hilbert_key
from ..sources.testdata import load_table
from .registry import register

_BITS = 8  # 256×256 grid; hkey < 65536
_Z_SQL = L.sql_z_value("(l_partkey % 256)", "(l_suppkey % 256)", _BITS)

_SRC_CTE = f"""
    hk_src AS (
      SELECT l_partkey % 256 AS hx0, l_suppkey % 256 AS hy0,
             CAST(0 AS BIGINT) AS hd0,
             l_partkey, l_suppkey, l_orderkey, l_linenumber
      FROM lineitem
    )"""

_CARRY = ("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber")


def _keyed(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    li = li.withColumns(
        {
            "_x": (F.col("l_partkey") % 256).cast("long"),
            "_y": (F.col("l_suppkey") % 256).cast("long"),
        }
    )
    keyed = with_hilbert_key(li, "_x", "_y", _BITS)
    return keyed.withColumn(
        "zval", L.z_value(F.col("_x"), F.col("_y"), _BITS)
    )


@register(
    "q_hilbert_layout",
    f"""
    WITH {_SRC_CTE},
    {sql_hilbert_ctes('hk_src', _BITS, _CARRY)}
    SELECT hkey // 256 AS hbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM hk_final GROUP BY 1
    """,
    doc="Hilbert-curve layout: per-bucket min/max envelopes on both "
    "filter dimensions (the q_zorder_layout property, tighter because "
    "the curve has no diagonal jumps); unrolled per-bit fold, pure "
    "codegen expressions (operators/hilbert.with_hilbert_key)",
)
def q_hilbert_layout(spark, sf_dir):
    keyed = _keyed(spark, sf_dir)
    return keyed.groupBy(
        F.expr("hkey DIV 256").alias("hbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )


@register(
    "q_hilbert_locality",
    f"""
    WITH {_SRC_CTE},
    {sql_hilbert_ctes('hk_src', _BITS, _CARRY)},
    keys AS (
      SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y,
             hkey, {_Z_SQL} AS zval,
             l_orderkey, l_linenumber
      FROM hk_final
    ),
    walk AS (
      SELECT
        ABS(x - LAG(x) OVER (ORDER BY hkey, l_orderkey, l_linenumber))
        + ABS(y - LAG(y) OVER (ORDER BY hkey, l_orderkey, l_linenumber))
          AS dh,
        ABS(x - LAG(x) OVER (ORDER BY zval, l_orderkey, l_linenumber))
        + ABS(y - LAG(y) OVER (ORDER BY zval, l_orderkey, l_linenumber))
          AS dz,
        ABS(x - LAG(x) OVER (ORDER BY l_orderkey, l_linenumber))
        + ABS(y - LAG(y) OVER (ORDER BY l_orderkey, l_linenumber))
          AS dr
      FROM keys
    )
    SELECT CAST(SUM(dh) AS BIGINT) AS walk_hilbert,
           CAST(SUM(dz) AS BIGINT) AS walk_zorder,
           CAST(SUM(dr) AS BIGINT) AS walk_roworder
    FROM walk
    """,
    doc="curve-locality audit: total |Δx|+|Δy| between consecutive "
    "rows under Hilbert vs Z-order vs natural order — the number that "
    "quantifies Hilbert's tighter envelopes (diagnostic global-order "
    "window; sample-bounded at scale)",
)
def q_hilbert_locality(spark, sf_dir):
    keyed = _keyed(spark, sf_dir)
    stepped = keyed.select(
        "_x",
        "_y",
        (
            F.abs(
                F.col("_x")
                - F.lag("_x").over(
                    Window.orderBy("hkey", "l_orderkey", "l_linenumber")
                )
            )
            + F.abs(
                F.col("_y")
                - F.lag("_y").over(
                    Window.orderBy("hkey", "l_orderkey", "l_linenumber")
                )
            )
        ).alias("dh"),
        (
            F.abs(
                F.col("_x")
                - F.lag("_x").over(
                    Window.orderBy("zval", "l_orderkey", "l_linenumber")
                )
            )
            + F.abs(
                F.col("_y")
                - F.lag("_y").over(
                    Window.orderBy("zval", "l_orderkey", "l_linenumber")
                )
            )
        ).alias("dz"),
        (
            F.abs(
                F.col("_x")
                - F.lag("_x").over(
                    Window.orderBy("l_orderkey", "l_linenumber")
                )
            )
            + F.abs(
                F.col("_y")
                - F.lag("_y").over(
                    Window.orderBy("l_orderkey", "l_linenumber")
                )
            )
        ).alias("dr"),
    )
    return stepped.agg(
        F.sum("dh").cast("long").alias("walk_hilbert"),
        F.sum("dz").cast("long").alias("walk_zorder"),
        F.sum("dr").cast("long").alias("walk_roworder"),
    )
