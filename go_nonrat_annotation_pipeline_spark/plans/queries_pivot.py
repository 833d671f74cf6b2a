"""PIVOT / UNPIVOT.

The report-shaping pair every warehouse user expects. PIVOT with an
EXPLICIT value list (the only scale-sane form — implicit pivot scans
the column twice to discover values and produces a non-deterministic
schema; Spark's two-arg ``.pivot(col, values)`` skips the discovery
job entirely). The oracle uses the universal conditional-aggregation
form, which is also exactly what Catalyst lowers PIVOT to — one hash
aggregate, no extra shuffle. UNPIVOT is the inverse (Spark
``unpivot``/melt ≡ UNION of constant-tagged projections), here taken
over the pivoted result so the pair round-trips.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_STATUSES = ["F", "O", "P"]

_PIVOT_SQL = """
    pv_joined AS (
      SELECT c.c_mktsegment, o.o_orderstatus
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), pv_wide AS (
      SELECT c_mktsegment,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_f,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_o,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_p
      FROM pv_joined GROUP BY c_mktsegment
    )"""


@register(
    "q_pivot_status_by_segment",
    "    WITH " + _PIVOT_SQL + """
    SELECT c_mktsegment, n_f, n_o, n_p FROM pv_wide
    """,
    doc="PIVOT with an explicit value list: order counts per market "
    "segment x status — Spark .pivot(col, values) skips the value-"
    "discovery scan and lowers to ONE conditional hash aggregate, the "
    "same plan the oracle's universal CASE form spells out",
)
def q_pivot_status_by_segment(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    wide = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


@register(
    "q_unpivot_roundtrip",
    "    WITH " + _PIVOT_SQL + """
    SELECT c_mktsegment, status, n_orders FROM (
      SELECT c_mktsegment, 'F' AS status, n_f AS n_orders FROM pv_wide
      UNION ALL
      SELECT c_mktsegment, 'O' AS status, n_o AS n_orders FROM pv_wide
      UNION ALL
      SELECT c_mktsegment, 'P' AS status, n_p AS n_orders FROM pv_wide)
    WHERE n_orders > 0
    """,
    doc="UNPIVOT (melt) of the pivoted result back to long form — "
    "Spark's native unpivot against the oracle's union-of-projections "
    "spelling; the pair round-trips the report shape",
)
def q_unpivot_roundtrip(spark, sf_dir):
    wide = q_pivot_status_by_segment(spark, sf_dir)
    return (
        wide.unpivot(
            "c_mktsegment",
            ["n_f", "n_o", "n_p"],
            "status",
            "n_orders",
        )
        .select(
            "c_mktsegment",
            F.upper(F.substring("status", 3, 1)).alias("status"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .where("n_orders > 0")
    )
