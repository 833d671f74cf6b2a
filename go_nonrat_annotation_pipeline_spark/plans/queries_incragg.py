"""Incremental aggregate maintenance query (operators/incragg.py).

The oracle is deliberately NOT a mirror of the computation: the Spark
side MAINTAINS the stored aggregate through a CDC batch (state ∪ signed
deltas, never reading the new snapshot), while the DuckDB side
RECOMPUTES the aggregate directly over the new snapshot — a hash match
proves the self-maintenance identity, not just engine agreement.

Snapshots derive from `orders` with the queries_diff recipe, extended so the CDC batch exercises every delta path: deletions
(%7/%5 membership), group-key moves (status flip at %11) and measure
edits (+5 at %13).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import diff as DF_
from ..operators import incragg as IA
from ..sources.testdata import load_table
from .registry import register


def _snapshots(spark, sf_dir):
    base = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .withColumn("m", (F.col("o_orderkey") % 1000).cast("long"))
    )
    old = base.where(F.col("o_orderkey") % 7 != 3)
    new = (
        base.where(F.col("o_orderkey") % 5 != 4)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "m",
            F.when(
                F.col("o_orderkey") % 13 == 0, F.col("m") + F.lit(5)
            ).otherwise(F.col("m")),
        )
    )
    return old, new


@register(
    "q_incremental_agg_maintain",
    """
    WITH n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             (o_orderkey % 1000)
               + CASE WHEN o_orderkey % 13 = 0 THEN 5 ELSE 0 END AS m
      FROM orders WHERE o_orderkey % 5 <> 4
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(m) AS BIGINT) AS total
    FROM n GROUP BY o_orderstatus
    """,
    doc="incremental materialized-aggregate maintenance: per-status "
    "(count, sum) state follows a CDC batch via signed delta rows — "
    "O(|CDC| + |state|), the new snapshot is never scanned; the oracle "
    "recomputes from the new snapshot directly, so the hash match "
    "proves maintained ≡ recompute "
    "(operators/incragg.incremental_agg_maintain)",
)
def q_incremental_agg_maintain(spark, sf_dir):
    old, new = _snapshots(spark, sf_dir)
    state = IA.group_agg_state(old, "o_orderstatus", "m")
    cdc = DF_.snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_orderstatus", "m"]
    )
    return IA.incremental_agg_maintain(state, cdc, "o_orderstatus", "m")
