"""Snapshot-diff (CDC) queries (operators/diff.py).

The two snapshots derive deterministically from `orders` so the diff
exercises every branch: keys only in new (added), only in old
(deleted), present in both with a value edit (changed), and identical
(unchanged). All hash-boundary columns are strings/integers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import diff as DF_
from ..sources.testdata import load_table
from .registry import register

_COLS = ["o_orderstatus", "o_totalprice"]


def _snapshots(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.where(F.col("o_orderkey") % 7 != 3)
    new = orders.where(F.col("o_orderkey") % 5 != 4).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    return old, new


_D_CTE = """
    WITH o AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 3
    ), n AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 5 <> 4
    ), d AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'deleted'
                  WHEN o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                    THEN 'unchanged'
                  ELSE 'changed' END AS change_type,
             o.o_orderstatus AS status_old, n.o_orderstatus AS status_new
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )"""


@register(
    "q_snapshot_diff_counts",
    _D_CTE
    + """
    SELECT change_type, COUNT(*) AS n FROM d GROUP BY change_type
    """,
    doc="CDC audit: per-change_type counts from one null-safe full-outer "
    "snapshot join (operators/diff.snapshot_diff + diff_counts) — the "
    "generic form of the reference's upsert decision (DAO.java:169-226)",
)
def q_snapshot_diff_counts(spark, sf_dir):
    old, new = _snapshots(spark, sf_dir)
    d = DF_.snapshot_diff(old, new, keys=["o_orderkey"], compare_cols=_COLS)
    return DF_.diff_counts(d)


@register(
    "q_snapshot_diff_rows",
    _D_CTE
    + """
    SELECT o_orderkey, status_old, status_new
    FROM d WHERE change_type = 'changed'
    """,
    doc="CDC row detail: the changed keys with old/new values "
    "(operators/diff.snapshot_diff filtered to 'changed')",
)
def q_snapshot_diff_rows(spark, sf_dir):
    old, new = _snapshots(spark, sf_dir)
    d = DF_.snapshot_diff(old, new, keys=["o_orderkey"], compare_cols=_COLS)
    return d.where(F.col(DF_.CHANGE_COL) == "changed").select(
        "o_orderkey",
        F.col("o_orderstatus_old").alias("status_old"),
        F.col("o_orderstatus_new").alias("status_new"),
    )
