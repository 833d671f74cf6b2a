"""Exact top-k cosine join via lossless cell bounds.

Completes the exact-acceleration matrix built on
``operators/decontam_ann.py``'s cells: threshold self-join
(exact-pairs), threshold gate (decontam), and now TOP-K — the exact
answer to "the k nearest benchmark items per corpus row", the shape a
retrieval/decontam pipeline wants when no single threshold fits.

Two map-side passes, both lossless:

1. SEED. Per row, probe the nearest cells by centroid dot until their
   cumulative FULL-population occupancy reaches k (occupancy folded in
   as a literal — one ``aggregate`` over the k-cell array per row).
   The top-k among those candidates yields t_x, the row's k-th-best
   rounded cosine — a valid LOWER bound on the true k-th best (a
   subset's k-th best can only be lower), so pass 2 prunes with it
   safely.

2. PRUNE. Per (row, cell), the best cosine any member of cell c can
   offer is bounded by the spherical triangle inequality:
   with cos(theta) = x_hat . u_c and the cell's angular radius phi_c
   (from its chordal max residual: cos(phi) = 1 - res^2/2),
   ub_c(x) = 1 if theta <= phi_c else cos(theta - phi_c)
           = d*cos(phi) + sqrt(1-d^2)*sin(phi).
   Cells with ub_c(x) < t_x - slack provably hold NO item that can
   enter the top-k (the slack absorbs 6dp output rounding and float
   reassociation, the decontam_ann discipline); the exact rounded
   top-k (ties broken by lowest bench id) over the probed candidates
   therefore equals brute force ON ANY DATA. Pruning power, as
   everywhere in this family, is data-dependent: clustered benches
   prune hard, unclustered ones degrade to brute force plus 2k dots.

Residuals MUST be re-aggregated over the full population under the
same assignment the join uses (the caller passes full_cells, exactly
as in the threshold plans) — a sample-trained residual would
understate phi and break the bound.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F

_SLACK = 1e-6


def _arr_sql(xs) -> str:
    return "array(" + ",".join(f"{x!r}D" for x in xs) + ")"


def seed_cells(
    vec_col: Column,
    full_cells: list[tuple[int, list[float], float]],
    occupancy: dict[int, int],
    k: int,
) -> Column:
    """Array of cell ids: nearest cells by centroid cosine, smallest
    prefix whose cumulative occupancy reaches ``k`` (ties broken by
    lower cell id). Pure map-side — centroids and occupancy are folded
    literals; one sort + one fold over k structs per row."""
    cents = F.expr(
        "array("
        + ",".join(_arr_sql([float(x) for x in cv]) for _, cv, _ in full_cells)
        + ")"
    )
    ids = F.expr(_arr_sql([float(cid) for cid, _, _ in full_cells]))
    occ = F.expr(
        _arr_sql([float(occupancy.get(cid, 0)) for cid, _, _ in full_cells])
    )
    n = len(full_cells)
    # struct sort: (-dot, cid) asc == dot desc, cid asc
    scored = F.transform(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: F.struct(
            (
                -F.aggregate(
                    F.zip_with(
                        vec_col,
                        F.element_at(cents, i),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("ndot"),
            F.element_at(ids, i).alias("cid"),
            F.element_at(occ, i).alias("occ"),
        ),
    )
    ordered = F.sort_array(scored)
    picked = F.aggregate(
        ordered,
        F.struct(
            F.expr("array()").cast("array<bigint>").alias("arr"),
            F.lit(0.0).alias("n"),
        ),
        lambda acc, s: F.when(
            acc["n"] >= F.lit(float(k)), acc
        ).otherwise(
            F.struct(
                F.concat(
                    acc["arr"], F.array(s["cid"].cast("bigint"))
                ).alias("arr"),
                (acc["n"] + s["occ"]).alias("n"),
            )
        ),
    )
    return picked["arr"]


def probe_cells_topk(
    vec_col: Column,
    tx_col: Column,
    full_cells: list[tuple[int, list[float], float]],
) -> Column:
    """Array of cell ids with upper bound >= ``tx_col`` - slack —
    the lossless prune pass. ub = d*cos(phi) + sqrt(1-d^2)*sin(phi)
    on the unit sphere (1 if the query lies inside the cell's cap);
    cos(phi)/sin(phi) are per-cell constants folded at plan time."""
    cents = F.expr(
        "array("
        + ",".join(_arr_sql([float(x) for x in cv]) for _, cv, _ in full_cells)
        + ")"
    )
    ids = F.expr(_arr_sql([float(cid) for cid, _, _ in full_cells]))
    cosphi, sinphi = [], []
    for _, _, res in full_cells:
        r = res if math.isfinite(res) else 2.0
        c = max(-1.0, min(1.0, 1.0 - (r * r) / 2.0))
        cosphi.append(c)
        sinphi.append(math.sqrt(max(0.0, 1.0 - c * c)))
    cph = F.expr(_arr_sql(cosphi))
    sph = F.expr(_arr_sql(sinphi))
    n = len(full_cells)
    vnorm = F.sqrt(
        F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x)
    )

    def ub(i):
        d_raw = (
            F.aggregate(
                F.zip_with(
                    vec_col, F.element_at(cents, i), lambda x, y: x * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / vnorm
        )
        d = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), d_raw))
        inside = d >= F.element_at(cph, i)  # theta <= phi
        val = d * F.element_at(cph, i) + F.sqrt(
            F.greatest(F.lit(0.0), F.lit(1.0) - d * d)
        ) * F.element_at(sph, i)
        return F.when(inside, F.lit(1.0)).otherwise(val)

    probed = F.filter(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: ub(i) >= tx_col - F.lit(_SLACK),
    )
    return F.transform(
        probed, lambda i: F.element_at(ids, i).cast("bigint")
    )
