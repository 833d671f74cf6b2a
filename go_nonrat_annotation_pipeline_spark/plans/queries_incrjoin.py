"""Incremental join-view maintenance queries (operators/incrjoin.py).

The maintained ≡ recompute contract for JOIN views: orders and lineitem
are each split into a base ("yesterday") and an insert-only delta
("today's CDC batch") by deterministic key arithmetic; the Spark side
maintains the view with the three-term delta expansion, and the DuckDB
oracle recomputes the join over the FULL post-delta tables. A hash
match proves the delta algebra reproduces the full re-join exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.incrjoin import delta_join, join_view_maintain
from ..sources.testdata import load_table
from .registry import register

# deterministic base/delta splits (mirrored verbatim in the oracle SQL)
_O_DELTA = "o_orderkey % 4 = 0"
_L_DELTA = "(l_orderkey + l_linenumber) % 5 = 0"

_SPLIT_CTES = f"""
    o_all AS (
      SELECT o_orderkey, o_orderpriority FROM orders
    ), l_all AS (
      SELECT l_orderkey AS o_orderkey,
             CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
             l_linenumber
      FROM lineitem
    ), o_base AS (
      SELECT * FROM orders WHERE NOT ({_O_DELTA})
    ), o_delta AS (
      SELECT * FROM orders WHERE {_O_DELTA}
    ), l_base AS (
      SELECT * FROM lineitem WHERE NOT ({_L_DELTA})
    ), l_delta AS (
      SELECT * FROM lineitem WHERE {_L_DELTA}
    )"""


def _split(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    line = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.floor("l_quantity").cast("long").alias("qty"),
        "l_linenumber",
    )
    o_delta_pred = F.expr(_O_DELTA)
    # lineitem's key was aliased to o_orderkey above (join-name align)
    l_delta_pred = F.expr("(o_orderkey + l_linenumber) % 5 = 0")
    o_base = orders.where(~o_delta_pred)
    o_delta = orders.where(o_delta_pred)
    l_base = line.where(~l_delta_pred).drop("l_linenumber")
    l_delta = line.where(l_delta_pred).drop("l_linenumber")
    return o_base, o_delta, l_base, l_delta


@register(
    "q_incremental_join_maintain",
    f"""
    WITH {_SPLIT_CTES}
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(l.l_quantity) AS BIGINT)) AS BIGINT)
             AS sum_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="incremental JOIN view maintenance (Blakeley et al. delta "
    "rule): V1 = V0 ∪ (ΔO⋈L0 ∪ O0⋈ΔL ∪ ΔO⋈ΔL) folded on the Spark "
    "side, full O1⋈L1 recompute on the oracle side — maintained ≡ "
    "recompute, bases never re-joined against each other "
    "(operators/incrjoin.join_view_maintain)",
)
def q_incremental_join_maintain(spark, sf_dir):
    o_base, o_delta, l_base, l_delta = _split(spark, sf_dir)
    view0 = o_base.join(l_base, "o_orderkey")
    v1 = join_view_maintain(
        view0, o_base, o_delta, l_base, l_delta, "o_orderkey"
    )
    return v1.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").alias("sum_qty"),
    )


@register(
    "q_delta_join_terms",
    f"""
    WITH {_SPLIT_CTES}
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o_base o
         JOIN l_base l ON o.o_orderkey = l.l_orderkey) AS n_view0,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o_delta o
         JOIN l_base l ON o.o_orderkey = l.l_orderkey) AS n_dl_r0,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o_base o
         JOIN l_delta l ON o.o_orderkey = l.l_orderkey) AS n_l0_dr,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM o_delta o
         JOIN l_delta l ON o.o_orderkey = l.l_orderkey) AS n_dl_dr,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
         JOIN lineitem l ON o.o_orderkey = l.l_orderkey) AS n_full
    """,
    doc="delta-join decomposition audit: the four term sizes and the "
    "identity n_view0 + the three delta terms = n_full — the cost "
    "model that makes join IVM cheaper than a re-join (each delta "
    "term is batch-probe-sized)",
)
def q_delta_join_terms(spark, sf_dir):
    o_base, o_delta, l_base, l_delta = _split(spark, sf_dir)

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    view0 = o_base.join(l_base, "o_orderkey")
    t1 = o_delta.join(l_base, "o_orderkey")
    t2 = o_base.join(l_delta, "o_orderkey")
    t3 = o_delta.join(l_delta, "o_orderkey")
    full = join_view_maintain(
        view0, o_base, o_delta, l_base, l_delta, "o_orderkey"
    )
    return (
        cnt(view0, "n_view0")
        .crossJoin(cnt(t1, "n_dl_r0"))
        .crossJoin(cnt(t2, "n_l0_dr"))
        .crossJoin(cnt(t3, "n_dl_dr"))
        .crossJoin(cnt(full, "n_full"))
    )
