"""Exact pair join with CANDIDATE-AWARE hot-cell drain.

Twin of ``dedup_embedding_exact_pairs`` whose
drain triggers on each cell's candidate LOAD (n_c x compatible-partner
occupancy, operators/decontam_drain.py) instead of raw occupancy. The
r11 saturation case — 645M cell-level candidates at 40k rows, spread
0.05 — had BALANCED cells (~625 members each); the pathology was the
compatibility graph densifying through outlier-inflated max residuals,
which an occupancy cap never sees. Draining on candidate load re-splits
exactly the cells that contribute the quadratic bulk, their sub-cell
residuals collapse to the local spread, and the triangle bound
re-sharpens. Exactness is unchanged under ANY cell partition (the
cell-agnostic two-hop ball bound), so the oracle remains the
brute-force all-pairs SQL, and at the test SFs the load cap is never
reached — plan and results are identical to the undrained row there by
construction. tools/scale_probe.py exact-pairs carries the drained
SCALE row (40k rows, spread 0.05: cell-level candidates bounded,
result set identical).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.decontam_ann import (
    build_bench_cells,
    train_sample,
)
from ..operators.decontam_drain import (
    assign_with_residual,
    drain_saturated_cells,
)
from ..operators.dedup import cosine
from ..operators.pair_blocks import block_candidate_pairs
from ..operators.similarity import _as_double
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

_TH = 0.4
_K = 8
_TRAIN_TARGET = 2000
# candidate-load cap per cell: load(c) = n_c x compatible-partner
# occupancy. Unreachable at the test SFs even fully dense (sf0.1:
# (2000/8) x 2000 = 500k — 4x headroom under the cap), so the attested
# plan equals the undrained twin there; at probe scale (40k rows,
# spread 0.05, ~6-20M load/cell measured) it fires and bounds the
# join. On data where sub-splitting cannot sparsify (genuinely
# unclustered), max_rounds bounds the wasted refinement.
_CAND_CAP = 2_000_000


@register(
    "dedup_embedding_exact_pairs_drained",
    f"""
    WITH dec_v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id_a, vec_id_b, cosine FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             ROUND({cos_sql('a.v', 'b.v')}, 6) AS cosine
      FROM dec_v a JOIN dec_v b ON a.vec_id < b.vec_id)
    WHERE cosine >= {_TH}
    """,
    doc="exact cosine-threshold pair join with candidate-aware hot-cell "
    "drain: cells whose candidate load (occupancy x compatible-partner "
    "occupancy) saturates are re-split into sub-cells trained on capped "
    "member samples, re-sharpening the lossless ball bound exactly "
    "where the compatibility graph densifies — results provably "
    "identical to brute force under any cell partition, so the oracle "
    "is the brute-force all-pairs SQL",
)
def dedup_embedding_exact_pairs_drained(spark, sf_dir):
    return build_drained_pairs(spark, sf_dir, _CAND_CAP)


def build_drained_pairs(spark, sf_dir, cand_cap, max_rounds=2):
    """Shared builder: exact pair join with candidate-load drain at
    ``cand_cap``. Results are cap-invariant (cell-agnostic ball bound);
    the cap only decides whether the refinement loop fires. The
    registered row above uses the production 2M cap (no-op at test
    SFs); queries_dedup_exact_cells3 registers a low-cap twin whose
    firing path is driver-attestable at sf0.01."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    sample_rows = train_sample(vecs, "vec_id", "v", target=_TRAIN_TARGET)
    _, cells = build_bench_cells(sample_rows, k=_K)
    if not cells:
        return spark.createDataFrame(
            [], "vec_id_a long, vec_id_b long, cosine double"
        )
    cent_rows = drain_saturated_cells(
        vecs,
        "vec_id",
        "v",
        [(cid, cv) for cid, cv, _ in cells],
        threshold=_TH,
        cand_cap=cand_cap,
        k_sub=_K,
        max_rounds=max_rounds,
    )
    # expression assignment below ~64 cells (the attested test-SF
    # path, bit-parity with r12), Arrow kernel beyond — a fired drain
    # can leave hundreds of cells, where the folded-literal expressions
    # cost seconds per action (assign_with_residual picks; results are
    # cell-agnostic either way, see decontam_drain.assign_res_kernel)
    assigned = assign_with_residual(
        vecs,
        "vec_id",
        "v",
        cent_rows,
        out_id="vec_id",
        out_vec="v",
        out_cell="cell",
        out_res="res",
    ).localCheckpoint(eager=False)
    maxres = {
        r[0]: r[1]
        for r in assigned.groupBy("cell")
        .agg(F.max("res").alias("res"))
        .collect()
    }
    full_cells = [
        (cid, cv, float(maxres.get(cid, 0.0))) for cid, cv in cent_rows
    ]
    # r13-opt: blocked candidate generation (operators/pair_blocks.py,
    # guide §4.2/§8) — one numpy matmul per compatible cell block, then
    # the oracle-exact expression cosine on survivors only; especially
    # apt here, where a FIRED drain bounds every block by construction.
    cand = block_candidate_pairs(assigned, full_cells, _TH)
    return (
        cand.withColumn(
            "cosine", F.round(cosine(F.col("va"), F.col("vb")), 6)
        )
        .where(F.col("cosine") >= F.lit(_TH))
        .select("vec_id_a", "vec_id_b", "cosine")
    )
