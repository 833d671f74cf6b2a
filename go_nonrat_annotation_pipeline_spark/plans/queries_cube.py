"""CUBE / GROUPING SETS aggregates. Completes the grouping-sets family
next to q_rollup_status_priority.

GROUPING_ID disambiguates a grouped-away dimension from a genuine NULL
value in it — without it the two hash identically into the same output
row shape, the classic grouping-sets reporting bug. Both engines
compute the same bitmask (Spark grouping_id(); DuckDB GROUPING()).
One shuffle each: Catalyst expands grouping sets map-side (Expand),
then a single hash aggregate — same plan family as ROLLUP.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..sources.testdata import load_table
from .registry import register

DEC2 = DecimalType(18, 2)


@register(
    "q_cube_grouping_id",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE with the GROUPING_ID bitmask + a decimal-exact measure — "
    "extends the attested q_cube_status_priority (queries_analytics) "
    "with the marker that distinguishes grouped-away dimensions from "
    "genuine NULLs; same one-shuffle Expand plan",
)
def q_cube_grouping_id(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC2))
        .cast("double")
        .alias("total_price"),
    ).select(
        "o_orderstatus", "o_orderpriority", "gid", "n_orders",
        "total_price",
    )


@register(
    "q_grouping_sets_mixed",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="explicit GROUPING SETS — the two marginals plus the grand "
    "total, skipping the full cross table (the report shape CUBE "
    "over-computes); same one-shuffle Expand plan",
)
def q_grouping_sets_mixed(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id() AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
