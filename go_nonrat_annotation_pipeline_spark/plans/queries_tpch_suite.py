"""TPC-H suite widening, part 1 (Q4/Q10/Q12/Q14 adapted).

q1/q3/q5 established the canonical-relational line; this module adds
the four next shapes a warehouse engine must get right, adapted to the
synthetic schema (no l_commitdate/l_receiptdate/l_shipmode — each
query keeps the ORIGINAL plan shape and substitutes an equivalent
predicate on the columns that exist):

- ``q4_order_priority``: the EXISTS semi-join with a correlated
  non-equi condition (late shipment = l_shipdate more than 30 days
  after o_orderdate, standing in for commitdate < receiptdate).
  Compiles to a LeftSemi hash join on the order key with the date
  comparison as a join residual — never a full join + distinct.
- ``q10_returned_items``: returned-revenue top-20 customers — the
  fact-fact shuffle join (lineitem x quarter-filtered orders) with
  the customer/nation dimension chain broadcast, TakeOrdered top-k.
- ``q12_priority_shipping``: CASE-conditional counts (URGENT/HIGH vs
  rest) per linestatus for a ship-year — one hash aggregate after an
  orders join; the CASE stays inside the aggregate (no pre-pivot).
- ``q14_promo_effect``: conditional-revenue ratio over a lineitem ⋈
  part (broadcast) month slice; both legs of the ratio ship as exact
  revenue_e4 BIGINTs plus an integer promo_ppm (DECIMAL(38,0) DIV —
  overflow-safe at any SF, no float division on either engine).

Decimal discipline throughout: extendedprice/discount enter as exact
DECIMAL(18,2), revenue sums stay decimal end to end and ship *10000
as integer-valued revenue_e4 (the q3 rule — a *100 cents cast would
truncate-vs-round differently on .xx85 fractions). Dates cross the
boundary as DATE; cutoffs enter as explicit TIMESTAMP literals.

Reference: TPC-H spec queries 4/10/12/14 (public); reference repo has
no OLAP analog — this is north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


def _rev_col():
    return F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )


# ---------------------------------------------------------------- Q4
_Q4_LO, _Q4_HI = "1997-01-01", "1997-04-01"
_Q4_GRACE_DAYS = 30


@register(
    "q4_order_priority",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_Q4_LO} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{_Q4_HI} 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL {_Q4_GRACE_DAYS} DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 (order priority checking, adapted): quarter-filtered "
    "orders EXISTS-semi-joined to late-shipping lineitems (correlated "
    "non-equi date residual on the hash semi join), counted per "
    "priority — one semi join + one hash aggregate, no distinct",
)
def q4_order_priority(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q4_LO + " 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q4_HI + " 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q4_GRACE_DAYS} DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------- Q10
_Q10_LO, _Q10_HI = "1997-04-01", "1997-07-01"
_Q10_TOP = 20


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_REV}) * 10000 AS BIGINT) AS revenue_e4
    FROM lineitem, orders, customer, nation
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND c_nationkey = n_nationkey
      AND l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{_Q10_LO} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{_Q10_HI} 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_e4 DESC, c_custkey
    LIMIT {_Q10_TOP}
    """,
    doc="TPC-H Q10 (returned items): returnflag-filtered lineitem "
    "shuffle-joined to quarter-filtered orders on the order key, "
    "customer+nation dimension chain broadcast, decimal-exact "
    "revenue_e4 per customer, top-20 via per-partition heaps",
)
def q10_returned_items(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(_Q10_LO + " 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q10_HI + " 00:00:00").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((_rev_col() * 10000).cast("long").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("c_custkey"))
        .limit(_Q10_TOP)
    )


# --------------------------------------------------------------- Q12
_Q12_LO, _Q12_HI = "1997-01-01", "1998-01-01"
_HIGH = ("1-URGENT", "2-HIGH")


@register(
    "q12_priority_shipping",
    f"""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN
                          ('{_HIGH[0]}', '{_HIGH[1]}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN
                          ('{_HIGH[0]}', '{_HIGH[1]}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem, orders
    WHERE l_orderkey = o_orderkey
      AND l_shipdate >= TIMESTAMP '{_Q12_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_Q12_HI} 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    doc="TPC-H Q12 (shipping modes, adapted to order priority): "
    "ship-year lineitem ⋈ orders with the URGENT/HIGH CASE pair "
    "folded into one hash aggregate — conditional counts never "
    "materialize a pre-pivoted frame",
)
def q12_priority_shipping(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_Q12_LO + " 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q12_HI + " 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin(*_HIGH)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------- Q14
_Q14_LO, _Q14_HI = "1997-09-01", "1997-10-01"


@register(
    "q14_promo_effect",
    f"""
    WITH m AS (
      SELECT
        SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} END) AS promo,
        SUM({_REV}) AS total
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= TIMESTAMP '{_Q14_LO} 00:00:00'
        AND l_shipdate <  TIMESTAMP '{_Q14_HI} 00:00:00'
    )
    SELECT
      CAST(COALESCE(promo, 0) * 10000 AS BIGINT) AS promo_rev_e4,
      CAST(total * 10000 AS BIGINT) AS total_rev_e4,
      CAST(CAST(1000000 AS HUGEINT)
           * CAST(COALESCE(promo, 0) * 10000 AS HUGEINT)
           // CAST(total * 10000 AS HUGEINT) AS BIGINT) AS promo_ppm
    FROM m
    WHERE total IS NOT NULL
    """,
    doc="TPC-H Q14 (promotion effect): month slice of lineitem with "
    "the 200-row part dimension broadcast; promo and total revenue "
    "ship as exact revenue_e4 BIGINTs and the ratio as integer "
    "promo_ppm via DECIMAL(38,0) integral division — no float "
    "division on either engine; empty month → empty frame on both",
)
def q14_promo_effect(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_Q14_LO + " 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q14_HI + " 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    m = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("promo"),
            F.sum(rev).alias("total"),
        )
        .where(F.col("total").isNotNull())
    )
    return m.select(
        (F.coalesce(F.col("promo"), F.lit(0)) * 10000)
        .cast("long")
        .alias("promo_rev_e4"),
        (F.col("total") * 10000).cast("long").alias("total_rev_e4"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * CAST(COALESCE(promo, 0) * 10000 AS DECIMAL(38,0)))"
            " DIV CAST(total * 10000 AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("promo_ppm"),
    )
