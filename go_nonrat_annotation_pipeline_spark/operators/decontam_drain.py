"""Candidate-aware drain for the lossless exact pair join, built on
``operators/decontam_ann.py``.

``refine_hot_cells`` (decontam_ann) re-splits cells by OCCUPANCY — the
right knob when one cell holds a quadratic share of the corpus, and it
self-scales (at 100x the rows every cell crosses a fixed occupancy cap
and the table refines globally). But the r11 saturation case
(SCALE.md: 645M cell-level candidates at 40k rows, spread 0.05,
64 balanced cells of ~625 members) is NOT an occupancy pathology — it
is the COMPATIBILITY GRAPH densifying: a handful of outlier members
inflate each cell's max residual until res_a + r + res_b exceeds the
inter-centroid spacing and ~90% of cell pairs stay compatible. The
saturation metric that matters is therefore each cell's CANDIDATE
LOAD,

    load(c) = n_c * sum(n_p for p compatible with c),

the number of candidate rows the cell contributes to the join. This
module drains on that trigger: cells whose load exceeds the cap are
re-split into sub-cells trained on a capped sample of their members —
sub-cells hug their local geometry, their max residuals collapse
toward the true cluster spread, the triangle bound re-sharpens, and
the compatibility graph sparsifies. Exactness is untouched at every
step: the two-hop ball bound holds for ANY cell partition
(decontam_ann module doc), so draining can only change SPEED.

Cost per round: ONE aggregate pass over the corpus (count + max
residual per cell), k^2 driver arithmetic for the compatibility graph,
and ONE bounded collect (all hot cells sampled in a single pass via a
per-cell CASE modulus). ``max_rounds`` bounds total work; each round
multiplies only the hot cells' arity by ``k_sub``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F

from .decontam_ann import (
    build_bench_cells,
    compatible_cell_pairs,
    residual_to_cell,
)

# Beyond this cell count the folded-literal argmax/residual expressions
# stop paying: the Column tree grows ~70 nodes per centroid and the
# per-row interpreted evaluation does k dot products, so a drained
# table of hundreds of cells spends seconds per action in parse +
# analysis + interpreted eval (measured at sf0.1: 7.2s for one
# assign+aggregate pass at 512 cells vs <0.5s via the kernel). The
# similarity.argmax_cell doc draws the same line at k ~ 64.
KERNEL_CELLS = 64


def assign_res_kernel(
    vec_col: Column, cent_rows: list[tuple[int, list[float]]]
) -> Column:
    """struct(cell, res): nearest-cell id by cosine + unit-sphere
    residual to it, ONE Arrow numpy matmul per batch — the scale form
    of argmax_cell + residual_to_cell for high cell counts.

    Result-neutrality: cell choice steers pruning only (the two-hop
    ball bound holds under ANY assignment), and the ~1e-15 float
    reassociation delta between this kernel and the JVM expression
    fold is dwarfed by the bound's absolute 1e-6 slack
    (decontam_ann._SLACK), so residual-driven compatibility never
    drops a qualifying pair. Tie-break matches the expression form:
    centroids sorted by id, np.argmax takes the first (lowest-id) max.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    rows = sorted(cent_rows)
    ids = np.asarray([int(c) for c, _ in rows], dtype=np.int64)
    C = np.asarray([np.asarray(v, dtype=np.float64) for _, v in rows])
    # cells are unit centroids by construction (build_bench_cells);
    # normalize defensively so the argmax stays a cosine argmax
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    @pandas_udf("struct<cell:bigint,res:double>")
    def k(v: pd.Series) -> pd.DataFrame:
        m = np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        if len(m) == 0:
            return pd.DataFrame(
                {
                    "cell": pd.Series([], dtype="int64"),
                    "res": pd.Series([], dtype="float64"),
                }
            )
        dots = m @ Cn.T  # (n, k) = v · u_c
        idx = np.argmax(dots, axis=1)
        best = dots[np.arange(len(m)), idx]
        vn = np.maximum(np.linalg.norm(m, axis=1), 1e-300)
        cos = best / vn
        res = np.sqrt(np.maximum(0.0, 2.0 - 2.0 * cos))
        return pd.DataFrame({"cell": ids[idx], "res": res})

    return k(vec_col)


def assign_with_residual(
    df,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    out_id: str = "_rid",
    out_vec: str = "_rv",
    out_cell: str = "_rcell",
    out_res: str = "_rres",
    assign_kernel: bool = False,
):
    """(id, vec, cell, res) against ``cent_rows`` — expression form for
    small cell tables (bit-parity with the attested test-SF path),
    kernel form beyond KERNEL_CELLS (or when forced)."""
    from .similarity import argmax_cell

    if assign_kernel or len(cent_rows) > KERNEL_CELLS:
        ar = assign_res_kernel(F.col(vec_col), cent_rows)
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            ar.alias("_ar"),
        ).select(
            out_id,
            out_vec,
            F.col("_ar.cell").alias(out_cell),
            F.col("_ar.res").alias(out_res),
        )
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(out_vec),
        argmax_cell(F.col(vec_col), cent_rows).alias(out_cell),
    ).withColumn(
        out_res,
        residual_to_cell(F.col(out_vec), F.col(out_cell), cent_rows),
    )


def cell_candidate_loads(
    counts: dict[int, int],
    full_cells: list[tuple[int, list[float], float]],
    threshold: float,
) -> dict[int, int]:
    """Per-cell candidate load n_c * sum(n_p) over compatible partners
    — driver-side k^2 arithmetic over the dictionary-sized cell table.
    ``compatible_cell_pairs`` emits both directions for ca != cb plus
    (c, c) once, so summing partner occupancy over rows anchored at
    ``ca`` covers every partner exactly once."""
    partner_rows: dict[int, int] = {c: 0 for c, _, _ in full_cells}
    for ca, cb in compatible_cell_pairs(full_cells, threshold):
        partner_rows[ca] = partner_rows.get(ca, 0) + counts.get(cb, 0)
    return {
        c: counts.get(c, 0) * partner_rows.get(c, 0)
        for c, _, _ in full_cells
    }


def drain_saturated_cells(
    df,
    id_col: str,
    vec_col: str,
    cent_rows: list[tuple[int, list[float]]],
    threshold: float,
    cand_cap: int,
    k_sub: int = 8,
    sub_target: int = 1000,
    max_rounds: int = 3,
    assign_kernel: bool = False,
) -> list[tuple[int, list[float]]]:
    """Refine ``cent_rows`` until no cell's candidate load exceeds
    ``cand_cap`` (or ``max_rounds`` is spent). Returns the refined
    contiguous 1-based centroid list; the caller re-assigns and
    re-aggregates residuals against it exactly as for an undrained
    table, which keeps assignment/residuals/bound self-consistent and
    the result set identical by the cell-agnostic ball bound."""
    for _ in range(max_rounds):
        if not cent_rows:
            return cent_rows
        assigned = assign_with_residual(
            df,
            id_col,
            vec_col,
            cent_rows,
            assign_kernel=assign_kernel,
        )
        stats = {
            r[0]: (int(r[1]), float(r[2]))
            for r in assigned.groupBy("_rcell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("_rres").alias("res"),
            )
            .collect()
        }
        counts = {c: n for c, (n, _) in stats.items()}
        full = [
            (cid, cv, stats.get(cid, (0, 0.0))[1])
            for cid, cv in cent_rows
        ]
        loads = cell_candidate_loads(counts, full, threshold)
        hot = sorted(
            c
            for c, load in loads.items()
            if load > cand_cap and counts.get(c, 0) > 1
        )
        if not hot:
            return cent_rows
        mod_case = "CASE _rcell " + " ".join(
            f"WHEN {c} THEN {max(counts[c] // sub_target, 1)}"
            for c in hot
        ) + " END"
        samples: dict[int, list[tuple[int, list[float]]]] = {
            c: [] for c in hot
        }
        for r in (
            assigned.where(F.col("_rcell").isin([int(c) for c in hot]))
            .where(f"crc32(CAST(_rid AS STRING)) % ({mod_case}) = 0")
            .select("_rid", "_rv", "_rcell")
            .collect()
        ):
            samples[r["_rcell"]].append((r["_rid"], list(r["_rv"])))
        by_id = dict(cent_rows)
        new_cents: list[list[float]] = []
        for cid, cv in cent_rows:
            if cid in samples and len(samples[cid]) > 1:
                _, sub = build_bench_cells(samples[cid], k=k_sub)
                new_cents.extend([scv for _, scv, _ in sub])
            else:
                new_cents.append(by_id[cid])
        if len(new_cents) == len(cent_rows):
            # every hot cell's sample was too thin to split further —
            # no progress is possible, stop rather than loop
            return cent_rows
        cent_rows = [(i + 1, cv) for i, cv in enumerate(new_cents)]
    return cent_rows
