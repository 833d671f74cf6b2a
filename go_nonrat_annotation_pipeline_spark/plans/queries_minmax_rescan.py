"""MIN/MAX IVM selective-rescan E2E (operators/incragg_rescan.py).

Closes the loop VERDICT r10 flagged: the k-buffer maintenance
(operators/incragg_minmax.py) marks exhausted groups
``needs_rescan`` but nothing rebuilt them; minbuf_rescan/maxbuf_rescan
now rebuild ONLY the flagged groups from the post-CDC snapshot and the
result keeps maintaining. The E2E drives BOTH machines through

  state(base) → maintain(b1) → SELECTIVE RESCAN → maintain(b2)
              → selective rescan → view

with a two-ended CDC attack (b1 deletes v≤5 OR v≥46) so SOME groups
exhaust their MIN buffer and OTHERS their MAX buffer — the mid-round
rescan is observable via the per-group rescanned_min/rescanned_max
flags, whose oracle simulates the b1 buffer algebra relationally (the
q_incremental_min_rescan_audit pattern, both ends).

CDC recipe over lineitem (g = l_orderkey DIV 8, v = quantity, k = 8):
  b1: dels = base rows with v<=5 OR v>=46; ins = quantity+7 echo of
      every 11th order          → post1 = σ(5<v<46)(base) ∪ ins1
  b2: dels = post1 rows with v<=9 OR v>=50; ins = quantity+3 echo of
      every 13th order          → post2 = σ(9<v<50)(post1) ∪ ins2

Oracle: recompute COUNT/MIN/MAX from post2 (maintain + rescan ≡
recompute, the family contract) + the b1 exhaustion simulation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.incragg_minmax import (
    max_view,
    maxbuf_maintain,
    maxbuf_state,
    min_view,
    minbuf_maintain,
    minbuf_state,
)
from ..operators.incragg_rescan import maxbuf_rescan, minbuf_rescan
from ..sources.testdata import load_table
from .registry import register

_K = 8

_SQL = f"""
    WITH rse_base AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity AS BIGINT) AS v
      FROM lineitem
    ), rse_ins1 AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity + 7 AS BIGINT) AS v
      FROM lineitem WHERE l_orderkey % 11 = 0
    ), rse_ins2 AS (
      SELECT l_orderkey // 8 AS g, CAST(l_quantity + 3 AS BIGINT) AS v
      FROM lineitem WHERE l_orderkey % 13 = 0
    ), rse_post1 AS (
      SELECT g, v FROM rse_base WHERE v > 5 AND v < 46
      UNION ALL SELECT g, v FROM rse_ins1
    ), rse_post2 AS (
      SELECT g, v FROM rse_post1 WHERE v > 9 AND v < 50
      UNION ALL SELECT g, v FROM rse_ins2
    ),
    -- b1 exhaustion simulation, both ends: pre-b1 buffers are the k
    -- smallest (largest) base values; a buffered value survives b1 iff
    -- it misses the delete predicate; inserts buffer when the group is
    -- complete or they land inside the boundary
    rse_rank AS (
      SELECT g, v,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC)  AS rn_lo,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) AS rn_hi,
             COUNT(*) OVER (PARTITION BY g) AS n0
      FROM rse_base
    ), rse_lo AS (
      SELECT g, MAX(v) AS bmax0, MAX(n0) AS n0,
             CAST(SUM(CASE WHEN v > 5 AND v < 46 THEN 1 ELSE 0 END)
                  AS BIGINT) AS surv
      FROM rse_rank WHERE rn_lo <= {_K} GROUP BY g
    ), rse_hi AS (
      SELECT g, MIN(v) AS bmin0,
             CAST(SUM(CASE WHEN v > 5 AND v < 46 THEN 1 ELSE 0 END)
                  AS BIGINT) AS surv
      FROM rse_rank WHERE rn_hi <= {_K} GROUP BY g
    ), rse_ibuf AS (
      SELECT i.g,
             CAST(SUM(CASE WHEN lo.n0 <= {_K} OR i.v <= lo.bmax0
                           THEN 1 ELSE 0 END) AS BIGINT) AS ibuf_lo,
             CAST(SUM(CASE WHEN lo.n0 <= {_K} OR i.v >= hi.bmin0
                           THEN 1 ELSE 0 END) AS BIGINT) AS ibuf_hi
      FROM rse_ins1 i
      JOIN rse_lo lo USING (g) JOIN rse_hi hi USING (g)
      GROUP BY i.g
    ), rse_delc AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM rse_base
      WHERE v <= 5 OR v >= 46 GROUP BY g
    ), rse_insc AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM rse_ins1 GROUP BY g
    ), rse_flags AS (
      -- a group emptied by b1 (n1 = 0) drops from the state, so it
      -- carries no rescan flag even if its buffer also drained
      SELECT lo.g,
             (lo.n0 - COALESCE(d.c, 0) + COALESCE(i.c, 0) > 0
              AND lo.surv + COALESCE(b.ibuf_lo, 0) = 0) AS rescanned_min,
             (lo.n0 - COALESCE(d.c, 0) + COALESCE(i.c, 0) > 0
              AND hi.surv + COALESCE(b.ibuf_hi, 0) = 0) AS rescanned_max
      FROM rse_lo lo
      JOIN rse_hi hi USING (g)
      LEFT JOIN rse_ibuf b USING (g)
      LEFT JOIN rse_delc d USING (g)
      LEFT JOIN rse_insc i USING (g)
    )
    SELECT p.g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(p.v) AS BIGINT) AS min_val,
           CAST(MAX(p.v) AS BIGINT) AS max_val,
           COALESCE(MAX(f.rescanned_min), FALSE) AS rescanned_min,
           COALESCE(MAX(f.rescanned_max), FALSE) AS rescanned_max
    FROM rse_post2 p LEFT JOIN rse_flags f USING (g)
    GROUP BY p.g
"""


def _frames(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.expr("l_orderkey DIV 8").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    )
    ins1 = li.where("l_orderkey % 11 = 0").select(
        F.expr("l_orderkey DIV 8").alias("g"),
        (F.col("l_quantity") + 7).cast("long").alias("v"),
    )
    ins2 = li.where("l_orderkey % 13 = 0").select(
        F.expr("l_orderkey DIV 8").alias("g"),
        (F.col("l_quantity") + 3).cast("long").alias("v"),
    )
    dels1 = base.where("v <= 5 OR v >= 46")
    post1 = base.where("v > 5 AND v < 46").unionByName(ins1)
    dels2 = post1.where("v <= 9 OR v >= 50")
    post2 = post1.where("v > 9 AND v < 50").unionByName(ins2)
    return base, ins1, dels1, post1, ins2, dels2, post2


@register(
    "q_incremental_minmax_rescan_e2e",
    _SQL,
    doc="MIN+MAX IVM full loop: k=8 buffers maintained through a "
    "two-ended delete attack, exhausted groups rebuilt by a SELECTIVE "
    "rescan (semi-joined base slice, flagged groups only — "
    "operators/incragg_rescan.py), then maintained through a second "
    "batch and rescanned again; per-group values ≡ recompute and the "
    "mid-round rescan flags ≡ the relational b1 buffer simulation",
)
def q_incremental_minmax_rescan_e2e(spark, sf_dir):
    base, ins1, dels1, post1, ins2, dels2, post2 = _frames(spark, sf_dir)

    # Eager checkpoints stay (lazy nesting was tried and LOST ~1.8x:
    # five levels of lazy-checkpoint leaves materialize poorly inside
    # one job), with two fixes over the r11 shape, A/B-measured
    # together at ~1.5-2x (13.3/12.5s -> 6.5/10.0s, interleaved
    # trials on an idle box):
    # - st2 gets its own checkpoint (guide §7.2 duplicated subtrees):
    #   rescan references its state 3x (flagged/slice/healthy), so the
    #   unmaterialized st2 subtree was TRIPLED into the final plan —
    #   196 Exchanges / 194 SortMergeJoins measured, 6/2 after;
    # - flagged loses its checkpoint: its parent st1 is already
    #   materialized and the filter is one cheap map over it.
    def run(state_fn, maintain_fn, rescan_fn, view_fn, tag):
        st = state_fn(base, "g", "v", _K).localCheckpoint()
        st1 = maintain_fn(st, ins1, dels1, "g", "v", _K).localCheckpoint()
        flagged = st1.where(F.size("buf") == 0).select(
            "g", F.lit(True).alias(tag)
        )
        st1r = rescan_fn(st1, post1, "g", "v", _K).localCheckpoint()
        st2 = maintain_fn(st1r, ins2, dels2, "g", "v", _K).localCheckpoint()
        st2r = rescan_fn(st2, post2, "g", "v", _K)
        return view_fn(st2r, "g"), flagged

    # the MIN and MAX machines are independent until the final join —
    # submit their checkpoint chains from two driver threads so the
    # second machine's stages back-fill the first's idle tail
    # (optimization guide §2.6 overlap); each chain stays sequential.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_min = pool.submit(
            run, minbuf_state, minbuf_maintain, minbuf_rescan, min_view,
            "rescanned_min",
        )
        fut_max = pool.submit(
            run, maxbuf_state, maxbuf_maintain, maxbuf_rescan, max_view,
            "rescanned_max",
        )
        minv, fmin = fut_min.result()
        maxv, fmax = fut_max.result()
    return (
        minv.select("g", "n", "min_val")
        .join(maxv.select("g", "max_val"), "g")
        .join(F.broadcast(fmin), "g", "left")
        .join(F.broadcast(fmax), "g", "left")
        .select(
            "g",
            "n",
            "min_val",
            "max_val",
            F.coalesce("rescanned_min", F.lit(False)).alias(
                "rescanned_min"
            ),
            F.coalesce("rescanned_max", F.lit(False)).alias(
                "rescanned_max"
            ),
        )
    )
