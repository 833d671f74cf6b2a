"""MAX-maintenance query (operators/incragg_minmax.py MAX twin).

Completes the Gupta-Mumick non-self-maintainable pair: MAX under
deletes via the SAME k-buffer machinery run over negated values (the
MIN/MAX symmetry of §4). The CDC batch is the mirror-image attack of
the MIN query: deletes are every row with quantity ≥ 46 (delete the
maxima), inserts echo quantity−7 of every 11th order. Exhausted groups
repair by targeted rescan, exactly as the MIN twin attests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.incragg_minmax import (
    max_view,
    maxbuf_maintain,
    maxbuf_state,
)
from ..sources.testdata import load_table
from .registry import register

_K = 8

_BASE = """
    mx_base AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
    ), mx_ins AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity - 7 AS BIGINT) AS v
      FROM lineitem WHERE l_orderkey % 11 = 0
    )"""


def _frames(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.expr("l_orderkey DIV 8").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    dels = base.where("v >= 46")
    ins = li.where("l_orderkey % 11 = 0").select(
        F.expr("l_orderkey DIV 8").alias("g"),
        (F.col("l_quantity") - 7).cast("long").alias("v"),
    )
    return base, ins, dels


@register(
    "q_incremental_max_maintain",
    f"""
    WITH {_BASE},
    mx_post AS (
      SELECT g, v FROM mx_base WHERE v < 46
      UNION ALL SELECT g, v FROM mx_ins
    )
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(v) AS BIGINT) AS max_val
    FROM mx_post GROUP BY g
    """,
    doc="incremental MAX under deletes: the MIN k-buffer machinery "
    "over negated values (Gupta-Mumick MIN/MAX symmetry) with sticky "
    "exhaustion and targeted-rescan repair; delete-the-maximum attack, "
    "oracle recomputes from the post-CDC snapshot "
    "(operators/incragg_minmax.maxbuf_maintain)",
)
def q_incremental_max_maintain(spark, sf_dir):
    base, ins, dels = _frames(spark, sf_dir)
    st = maxbuf_state(base, "g", "v", _K).localCheckpoint()
    st2 = maxbuf_maintain(st, ins, dels, "g", "v", _K)
    view = max_view(st2, "g").localCheckpoint()
    post = base.where("v < 46").unionByName(ins)
    flagged = view.where("needs_rescan").select("g")
    repaired = (
        post.join(F.broadcast(flagged), "g")
        .groupBy("g")
        .agg(F.max("v").cast("long").alias("_rmax"))
    )
    return view.join(repaired, "g", "left").select(
        "g",
        "n",
        F.coalesce("max_val", "_rmax").cast("long").alias("max_val"),
    )
