"""Data-layout queries (Z-order keys, compaction planning).

``q_zorder_layout`` summarizes what a Z-ordered rewrite would achieve:
rows bucketed by the high byte of their morton key, with per-bucket
min/max envelopes on BOTH source keys — tight envelopes on both
dimensions are exactly the property that lets parquet skip files for
predicates on either column.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import layout as L
from ..sources.testdata import load_table
from .registry import register

_ZBITS = 16
_Z_SQL = L.sql_z_value("l_partkey % 65536", "l_suppkey % 65536", _ZBITS)


@register(
    "q_zorder_layout",
    f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey, {_Z_SQL} AS zval FROM lineitem
    )
    SELECT zval // {1 << 24} AS zbucket,
           COUNT(*) AS n_rows,
           MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
           MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
    FROM z GROUP BY 1
    """,
    doc="layout: morton/Z-order key + per-bucket min/max envelopes on "
    "both dimensions (the file-skipping property OPTIMIZE ZORDER buys)",
)
def q_zorder_layout(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    z = li.select(
        "l_partkey",
        "l_suppkey",
        L.z_value(F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536, _ZBITS).alias(
            "zval"
        ),
    )
    return z.groupBy(
        F.shiftright(F.col("zval"), 24).alias("zbucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )


@register(
    "q_compaction_plan",
    L.sql_compaction_plan(
        "(SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS size_bytes"
        " FROM documents GROUP BY 1, 2)",
        "size_bytes",
        "source, lang",
        50_000,
    ),
    doc="layout: greedy bin-packing of size-carrying units into "
    "target-sized compaction bins via one cumulative-sum window",
)
def q_compaction_plan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    units = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("size_bytes")
    )
    return L.compaction_plan(units, "size_bytes", ["source", "lang"], 50_000)
