"""MIN-maintenance queries (operators/incragg_minmax.py).

The CDC batch is derived deterministically from lineitem: deletes are
EVERY row with quantity ≤ 5 (a targeted attack on the buffers — the
delete-the-minimum worst case for MIN maintenance), inserts are a
quantity+7 echo of every 11th order. Groups are l_orderkey DIV 8
(~32 rows each), so some groups lose their entire k=8 buffer (the
bounded-rescan path actually exercises) while most stay exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.incragg_minmax import (
    min_view,
    minbuf_maintain,
    minbuf_state,
)
from ..sources.testdata import load_table
from .registry import register

_K = 8

_BASE = """
    mm_base AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
    ), mm_ins AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity + 7 AS BIGINT) AS v
      FROM lineitem WHERE l_orderkey % 11 = 0
    )"""


def _frames(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.expr("l_orderkey DIV 8").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    dels = base.where("v <= 5")
    ins = li.where("l_orderkey % 11 = 0").select(
        F.expr("l_orderkey DIV 8").alias("g"),
        (F.col("l_quantity") + 7).cast("long").alias("v"),
    )
    return base, ins, dels


@register(
    "q_incremental_min_maintain",
    f"""
    WITH {_BASE},
    mm_post AS (
      SELECT g, v FROM mm_base WHERE v > 5
      UNION ALL SELECT g, v FROM mm_ins
    )
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS min_val
    FROM mm_post GROUP BY g
    """,
    doc="incremental MIN under deletes (Gupta-Mumick: MIN is not "
    "self-maintainable): per-group k=8 buffer of smallest values "
    "follows the CDC batch without rescanning the base; groups whose "
    "buffer exhausts are repaired by a TARGETED rescan of flagged "
    "groups only. The oracle recomputes from the post-CDC snapshot — "
    "maintain + bounded repair ≡ recompute "
    "(operators/incragg_minmax.minbuf_maintain)",
)
def q_incremental_min_maintain(spark, sf_dir):
    base, ins, dels = _frames(spark, sf_dir)
    st = minbuf_state(base, "g", "v", _K).localCheckpoint()
    st2 = minbuf_maintain(st, ins, dels, "g", "v", _K)
    view = min_view(st2, "g").localCheckpoint()
    # bounded repair: rescan ONLY the flagged groups against the
    # post-CDC snapshot (dels are exactly the v<=5 rows)
    post = base.where("v > 5").unionByName(ins)
    flagged = view.where("needs_rescan").select("g")
    repaired = (
        post.join(F.broadcast(flagged), "g")
        .groupBy("g")
        .agg(F.min("v").cast("long").alias("_rmin"))
    )
    return (
        view.join(repaired, "g", "left")
        .select(
            "g",
            "n",
            F.coalesce("min_val", "_rmin").cast("long").alias("min_val"),
        )
    )


@register(
    "q_incremental_min_rescan_audit",
    f"""
    WITH {_BASE},
    mm_ranked AS (
      SELECT g, v,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n0
      FROM mm_base
    ),
    mm_bufstat AS (
      SELECT g, MAX(v) AS bmax, MAX(n0) AS n0,
             CAST(SUM(CASE WHEN v > 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS survivors
      FROM mm_ranked WHERE rn <= {_K} GROUP BY g
    ),
    mm_insbuf AS (
      SELECT i.g, CAST(COUNT(*) AS BIGINT) AS ibuf
      FROM mm_ins i JOIN mm_bufstat b USING (g)
      WHERE b.n0 <= {_K} OR i.v <= b.bmax
      GROUP BY i.g
    ),
    mm_counts AS (
      SELECT b.g,
             b.n0
               - (SELECT COUNT(*) FROM mm_base d
                  WHERE d.g = b.g AND d.v <= 5)
               + (SELECT COUNT(*) FROM mm_ins i WHERE i.g = b.g)
               AS n_new,
             b.survivors + COALESCE(x.ibuf, 0) AS bufn
      FROM mm_bufstat b LEFT JOIN mm_insbuf x USING (g)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n_new > 0 AND bufn = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rescans,
           CAST(SUM(CASE WHEN n_new > 0 AND bufn > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN n_new <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_emptied
    FROM mm_counts
    """,
    doc="rescan economics of the k-buffer: groups exact vs needing one "
    "targeted rescan vs emptied entirely after a delete-heavy batch — "
    "the audit that sizes k (the oracle simulates the buffer algebra "
    "relationally; the Spark side reports the maintained state's own "
    "flags)",
)
def q_incremental_min_rescan_audit(spark, sf_dir):
    base, ins, dels = _frames(spark, sf_dir)
    st = minbuf_state(base, "g", "v", _K)
    st2 = minbuf_maintain(st, ins, dels, "g", "v", _K)
    view = min_view(st2, "g")
    n_groups_all = minbuf_state(base, "g", "v", _K).select("g")
    emptied = n_groups_all.join(view.select("g"), "g", "left_anti")
    return (
        view.agg(
            F.sum(F.when(F.col("needs_rescan"), 1).otherwise(0))
            .cast("long")
            .alias("n_rescans"),
            F.sum(F.when(F.col("needs_rescan"), 0).otherwise(1))
            .cast("long")
            .alias("n_exact"),
        )
        .crossJoin(
            emptied.agg(F.count(F.lit(1)).cast("long").alias("n_emptied"))
        )
        .select(
            (F.col("n_rescans") + F.col("n_exact") + F.col("n_emptied"))
            .cast("long")
            .alias("n_groups"),
            "n_rescans",
            "n_exact",
            "n_emptied",
        )
    )
