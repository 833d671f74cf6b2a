"""3-D Hilbert layout queries (operators/hilbert_nd.py).

``q_hilbert3_layout`` extends the per-bucket envelope audit to three
filter dimensions; ``q_hilbert3_locality`` measures the 3-D grid walk
under Hilbert vs 3-ary Morton vs natural order. Same diagnostic
global-order caveat as the 2-D locality query: sample-bounded at
scale; the layout WRITE (hilbert_nd.layout_by_hilbert) needs only a
range-partitioned sort.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.hilbert_nd import (
    sql_hilbert_nd_ctes,
    sql_z_value_nd,
    with_hilbert_key_nd,
    z_value_nd,
)
from ..sources.testdata import load_table
from .registry import register

_BITS = 6  # 64×64×64 grid; hkey < 262144
_DIMS = ("(l_partkey % 64)", "(l_suppkey % 64)", "(l_orderkey % 64)")
_Z_SQL = sql_z_value_nd(_DIMS, _BITS)

_SRC_CTE = """
    h3_src AS (
      SELECT l_partkey % 64 AS hx0_0, l_suppkey % 64 AS hx1_0,
             l_orderkey % 64 AS hx2_0,
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
            "_x": (F.col("l_partkey") % 64).cast("long"),
            "_y": (F.col("l_suppkey") % 64).cast("long"),
            "_z": (F.col("l_orderkey") % 64).cast("long"),
        }
    )
    keyed = with_hilbert_key_nd(li, ["_x", "_y", "_z"], _BITS)
    return keyed.withColumn(
        "zval", z_value_nd([F.col("_x"), F.col("_y"), F.col("_z")], _BITS)
    )


@register(
    "q_hilbert3_layout",
    f"""
    WITH {_SRC_CTE},
    {sql_hilbert_nd_ctes('h3_src', 3, _BITS, _CARRY)}
    SELECT hkey // 4096 AS hbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp,
           MIN(l_orderkey) AS min_ord, MAX(l_orderkey) AS max_ord
    FROM hnd_final GROUP BY 1
    """,
    doc="3-D Hilbert layout: per-bucket min/max envelopes on all three "
    "filter dimensions via Skilling's transpose fold unrolled as pure "
    "codegen AND/XOR/CASE steps — bit-identical across engines by "
    "shared expression text (operators/hilbert_nd.with_hilbert_key_nd)",
)
def q_hilbert3_layout(spark, sf_dir):
    keyed = _keyed(spark, sf_dir)
    return keyed.groupBy(
        F.expr("hkey DIV 4096").alias("hbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
        F.min("l_orderkey").alias("min_ord"),
        F.max("l_orderkey").alias("max_ord"),
    )


@register(
    "q_hilbert3_locality",
    f"""
    WITH {_SRC_CTE},
    {sql_hilbert_nd_ctes('h3_src', 3, _BITS, _CARRY)},
    h3_keys AS (
      SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y,
             l_orderkey % 64 AS z,
             hkey, {_Z_SQL} AS zval,
             l_orderkey, l_linenumber
      FROM hnd_final
    ),
    h3_walk AS (
      SELECT
        ABS(x - LAG(x) OVER w_h) + ABS(y - LAG(y) OVER w_h)
          + ABS(z - LAG(z) OVER w_h) AS dh,
        ABS(x - LAG(x) OVER w_z) + ABS(y - LAG(y) OVER w_z)
          + ABS(z - LAG(z) OVER w_z) AS dz,
        ABS(x - LAG(x) OVER w_r) + ABS(y - LAG(y) OVER w_r)
          + ABS(z - LAG(z) OVER w_r) AS dr
      FROM h3_keys
      WINDOW w_h AS (ORDER BY hkey, l_orderkey, l_linenumber),
             w_z AS (ORDER BY zval, l_orderkey, l_linenumber),
             w_r AS (ORDER BY l_orderkey, l_linenumber)
    )
    SELECT CAST(SUM(dh) AS BIGINT) AS walk_hilbert,
           CAST(SUM(dz) AS BIGINT) AS walk_zorder,
           CAST(SUM(dr) AS BIGINT) AS walk_roworder
    FROM h3_walk
    """,
    doc="3-D curve-locality audit: total |Δx|+|Δy|+|Δz| between "
    "consecutive rows under Hilbert vs 3-ary Morton vs natural order "
    "(diagnostic global-order window; sample-bounded at scale — the "
    "production write is hilbert_nd.layout_by_hilbert)",
)
def q_hilbert3_locality(spark, sf_dir):
    keyed = _keyed(spark, sf_dir)
    w_h = Window.orderBy("hkey", "l_orderkey", "l_linenumber")
    w_z = Window.orderBy("zval", "l_orderkey", "l_linenumber")
    w_r = Window.orderBy("l_orderkey", "l_linenumber")

    def walk(col, w):
        return F.abs(F.col(col) - F.lag(col).over(w))

    stepped = keyed.select(
        (walk("_x", w_h) + walk("_y", w_h) + walk("_z", w_h)).alias("dh"),
        (walk("_x", w_z) + walk("_y", w_z) + walk("_z", w_z)).alias("dz"),
        (walk("_x", w_r) + walk("_y", w_r) + walk("_z", w_r)).alias("dr"),
    )
    return stepped.agg(
        F.sum("dh").cast("long").alias("walk_hilbert"),
        F.sum("dz").cast("long").alias("walk_zorder"),
        F.sum("dr").cast("long").alias("walk_roworder"),
    )
