"""Selective rescan for the MIN/MAX k-buffer IVM — closes the
maintenance loop that operators/incragg_minmax.py leaves to "the
caller": rebuild state for ONLY the exhausted groups from a base
snapshot and compose the result back with further maintenance.

Gupta & Mumick 1995 §4: MIN/MAX are not self-maintainable under
deletes; the k-buffer bounds the damage to at most one rescan per k
deletes per group. This module is that rescan, done relationally:

  flagged  = groups whose buffer drained while rows remain
             (min_view/max_view's ``needs_rescan``)
  rebuilt  = minbuf_state(base ⋉ flagged)   -- the ONLY base touch,
             a semi-join sliced to the flagged groups
  healthy  = state ▷ flagged                -- anti-join passthrough
  result   = healthy ∪ rebuilt

The flagged set is dictionary-sized by construction (≤ one exhaustion
per k deletes per group), so it broadcasts; the base is read once,
filtered by a broadcast semi-join — rescan cost is proportional to the
FLAGGED groups' rows, never the base (the SCALE probe's claim:
``python tools/scale_probe.py minmax-rescan``).

CONTRACT: ``base`` must be the post-CDC snapshot consistent with the
maintained state (same (group, n) multiset for the flagged groups —
exactly what the CDC feed that drove maintenance implies). After the
rescan every group satisfies the buffer invariant again, so
minbuf_maintain composes on the result unchanged — the registered E2E
(plans/queries_minmax_rescan.py) attests maintain → rescan → maintain
≡ recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .incragg_minmax import minbuf_state


def minbuf_rescan(
    state: DataFrame,
    base: DataFrame,
    group_col: str,
    value_col: str,
    k: int,
) -> DataFrame:
    """Rebuild the k-buffer state for the ``needs_rescan`` groups from
    ``base`` (the post-CDC snapshot), pass every healthy group's state
    through untouched, and union. Output schema == minbuf_state's."""
    g = group_col
    flagged = state.where(F.size("buf") == 0).select(g)
    slice_ = base.select(
        g, F.col(value_col).cast("long").alias("_v")
    ).join(F.broadcast(flagged), g, "left_semi")
    rebuilt = minbuf_state(slice_, g, "_v", k)
    healthy = state.join(F.broadcast(flagged), g, "left_anti")
    return healthy.select(g, "n", "buf", "complete").unionByName(
        rebuilt.select(g, "n", "buf", "complete")
    )


def maxbuf_rescan(
    state: DataFrame,
    base: DataFrame,
    group_col: str,
    value_col: str,
    k: int,
) -> DataFrame:
    """MAX twin: the negated-state convention of maxbuf_state — rescan
    rebuilds buffers of NEGATED values so max_view keeps working."""
    neg = base.select(
        group_col, (-F.col(value_col).cast("long")).alias("_negv")
    )
    return minbuf_rescan(state, neg, group_col, "_negv", k)
