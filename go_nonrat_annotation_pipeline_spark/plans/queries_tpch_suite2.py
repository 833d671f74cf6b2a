"""TPC-H suite widening, part 2 (Q7/Q18/Q19/Q22 adapted).

Completes the session's canonical-relational batch (part 1:
queries_tpch_suite.py) with the four remaining classic shapes the
synthetic schema supports:

- ``q7_volume_shipping``: the two-nation trade-volume query — the
  fact spine (lineitem ⋈ orders) shuffles on the order key once;
  BOTH dimension chains (supplier→nation, customer→nation) broadcast,
  the cross-pair predicate ((n1,n2) or (n2,n1)) rides the broadcast
  joins, yearly revenue is decimal-exact.
- ``q18_large_volume_customer``: the HAVING-subquery shape — per-order
  quantity sums filtered above a threshold BEFORE the orders/customer
  join (the aggregate prunes the fact side; never join-then-having).
- ``q19_disjunctive_revenue``: the disjunctive-predicate pushdown
  test — three (brand, size-range, quantity-range) triples OR-ed
  together; the part-side brand/size disjunction prunes the broadcast
  build, the quantity leg rides the lineitem scan.
- ``q22_sales_opportunity``: scalar-subquery + anti-join — customers
  above the (positive-balance) average with no RECENT orders (the
  synthetic data has no order-less customers, so "recent" replaces
  Q22's no-orders-at-all while keeping the NOT EXISTS anti-join).
  Above-average is decided by EXACT cross-multiplication
  (acctbal * n > total, all DECIMAL(18,2)-derived integers) — never
  a float average comparison; balances ship as *100 integer cents
  (acctbal is exactly-2dp in the synthetic data, so the cents cast
  is exact, unlike derived revenue fractions).

Decimal/date discipline as part 1 (revenue_e4, DATE boundary, explicit
TIMESTAMP literals). Reference: TPC-H spec queries 7/18/19/22
(public); north-star extension surface.
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


# ---------------------------------------------------------------- Q7
_N1, _N2 = "NATION_3", "NATION_4"
_Q7_LO, _Q7_HI = "1997-01-01", "1999-01-01"


@register(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV}) * 10000 AS BIGINT) AS revenue_e4
    FROM lineitem, orders, customer, supplier, nation n1, nation n2
    WHERE l_suppkey = s_suppkey
      AND l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = '{_N1}' AND n2.n_name = '{_N2}')
           OR (n1.n_name = '{_N2}' AND n2.n_name = '{_N1}'))
      AND l_shipdate >= TIMESTAMP '{_Q7_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{_Q7_HI} 00:00:00'
    GROUP BY n1.n_name, n2.n_name, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (volume shipping): one fact-spine shuffle "
    "(lineitem ⋈ orders on the order key), supplier→nation and "
    "customer→nation chains broadcast with the cross-pair predicate "
    "riding them, decimal-exact yearly revenue_e4 per direction",
)
def q7_volume_shipping(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(_Q7_LO + " 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(_Q7_HI + " 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    nat = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(_N1, _N2)
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(nat, F.col("s_nationkey") == nat["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(nat, F.col("c_nationkey") == nat["n_nationkey"])
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((_rev_col() * 10000).cast("long").alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------- Q18
_Q18_QTY = 200
_Q18_TOP = 20


@register(
    "q18_large_volume_customer",
    f"""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem, orders, customer
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS BIGINT)) > {_Q18_QTY}
      )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT {_Q18_TOP}
    """,
    doc="TPC-H Q18 (large-volume customer): per-order quantity sums "
    "filtered above the threshold BEFORE joining orders/customer "
    "(the aggregate prunes the fact side via a semi join on the "
    "order key), integral-quantity BIGINT arithmetic, top-20 via "
    "per-partition heaps",
)
def q18_large_volume_customer(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("sum_qty"))
        .where(F.col("sum_qty") > _Q18_QTY)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.col("sum_qty").cast("long").alias("sum_qty"),
        )
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(_Q18_TOP)
    )


# --------------------------------------------------------------- Q19
# (brand, size_lo, size_hi, qty_lo, qty_hi)
_Q19 = [
    ("Brand#12", 1, 15, 1, 11),
    ("Brand#23", 1, 20, 10, 20),
    ("Brand#24", 1, 25, 20, 30),
]


def _q19_sql_pred() -> str:
    legs = [
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in _Q19
    ]
    return " OR ".join(legs)


@register(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(COALESCE(SUM({_REV}), 0) * 10000 AS BIGINT)
             AS revenue_e4,
           CAST(COUNT(*) AS BIGINT) AS matched_lines
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND ({_q19_sql_pred()})
    """,
    doc="TPC-H Q19 (discounted revenue, disjunctive predicates): "
    "three (brand, size-range, quantity-range) OR-legs — the "
    "part-side brand/size disjunction prunes the broadcast build "
    "side, the quantity leg rides the lineitem scan as a join "
    "residual; single decimal-exact output row (COALESCE(...,0) on "
    "both engines when nothing matches)",
)
def q19_disjunctive_revenue(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    legs = None
    for b, slo, shi, qlo, qhi in _Q19:
        leg = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )
        legs = leg if legs is None else (legs | leg)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .where(legs)
        .agg(
            (F.coalesce(F.sum(rev), F.lit(0)) * 10000)
            .cast("long")
            .alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("matched_lines"),
        )
    )


# --------------------------------------------------------------- Q22
_Q22_CUT = "2000-01-01"


@register(
    "q22_sales_opportunity",
    f"""
    WITH pos AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS totacctbal_e2
    FROM customer, nation, pos
    WHERE c_nationkey = n_nationkey
      AND c_acctbal > 0
      AND CAST(c_acctbal AS DECIMAL(18,2)) * pos.n > pos.total
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '{_Q22_CUT} 00:00:00'
      )
    GROUP BY n_name
    ORDER BY n_name
    """,
    doc="TPC-H Q22 (sales opportunity, adapted to no-RECENT-orders): "
    "scalar subquery (positive-balance count+total, broadcast as a "
    "single row) + NOT EXISTS anti-join against cutoff-filtered "
    "orders; above-average decided by exact decimal "
    "cross-multiplication (acctbal*n > total) — no float average; "
    "balances ship as exact *100 cents",
)
def q22_sales_opportunity(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") > 0
    )
    pos = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("total"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate")
            >= F.lit(_Q22_CUT + " 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .where(
            F.col("c_acctbal").cast("decimal(18,2)") * F.col("n")
            > F.col("total")
        )
        .join(
            recent,
            F.col("c_custkey") == recent["o_custkey"],
            "left_anti",
        )
        .join(F.broadcast(nat), F.col("c_nationkey") == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            (F.sum(F.col("c_acctbal").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("totacctbal_e2"),
        )
        .orderBy("n_name")
    )
