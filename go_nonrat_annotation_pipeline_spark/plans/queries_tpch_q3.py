"""TPC-H Q3 (shipping priority).

Widens the canonical-relational coverage next to q1 (pricing summary)
and q5 (multiway join-agg): the segment-filtered customer–orders–
lineitem join with revenue ranking. Revenue uses the repo's decimal
discipline — extendedprice and discount are exact 2dp, the product is
exact in DECIMAL(38,4), and the revenue sum stays decimal end to
end; the output ships as revenue_e4 = revenue * 10000, an
integer-valued scale-4 decimal whose BIGINT cast is exact on both
engines (a *100 cents cast would truncate-vs-round differently on
the .xx85 fractions). Top-10 via orderBy().limit (per-partition
heaps), the
orders/customer join broadcast-eligible after the segment filter.

Date pivots: the synthetic orders span 1995-2001 (TIMESTAMP typed);
the cutoff sits mid-range so both the pre-cutoff order filter and the
post-cutoff ship filter keep rows at every SF, and enters as an
explicit TIMESTAMP literal on both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_SEG = "BUILDING"
_CUT = "1998-06-01"
_TOP = 10


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))))
                * 10000 AS BIGINT) AS revenue_e4,
           CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = '{_SEG}'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '{_CUT} 00:00:00'
      AND l_shipdate > TIMESTAMP '{_CUT} 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_e4 DESC, o_orderdate, l_orderkey
    LIMIT {_TOP}
    """,
    doc="TPC-H Q3 shipping priority: segment-filtered "
    "customer-orders-lineitem join, decimal-exact revenue "
    "(DECIMAL(38,4) products, exact revenue_e4 output), top-10 via "
    "per-partition heaps; broadcast-eligible dimension side after "
    "the segment filter",
)
def q3_shipping_priority(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == _SEG
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(_CUT + " 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(_CUT + " 00:00:00").cast("timestamp")
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        li.join(
            orders, li["l_orderkey"] == orders["o_orderkey"]
        )
        .join(
            F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((rev * 10000).cast("long").alias("revenue_e4"))
        .select(
            "l_orderkey",
            "revenue_e4",
            # TIMESTAMP is a banned boundary type (float_lint) — ship
            # the calendar date both engines agree on
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(
            F.desc("revenue_e4"), F.asc("o_orderdate"),
            F.asc("l_orderkey"),
        )
        .limit(_TOP)
    )
