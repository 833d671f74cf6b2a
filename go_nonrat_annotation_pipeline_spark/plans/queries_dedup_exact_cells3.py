"""Exact pair join with a TEST-SF-REACHABLE drain cap.

`dedup_embedding_exact_pairs_drained` carries the
production 2M candidate-load cap, which is provably unreachable at
every test SF (max ~40k load/cell measured at sf0.001-sf0.01, 500k
worst-case at sf0.1) — so the driver has only ever attested that
plan's NO-OP path; the refinement loop's firing path lived in pytest
(tests/test_decontam_drain.py) and the scale probe (VERDICT r12
What's missing #2). This twin runs the IDENTICAL plan via the shared
`build_drained_pairs` with a 20k cap, which the measured per-cell
loads (~25-40k at sf0.001 AND sf0.01) exceed on every cell — the
drain provably FIRES during every driver attestation.

Exactness is cap-agnostic (the two-hop ball bound holds under ANY
cell partition — operators/decontam_ann.py), so the oracle remains
the same brute-force all-pairs SQL and the result set is
bit-identical to both the undrained row and the 2M-cap row by
construction; what this row adds to the evidence base is a driver
hash-gate PASS over an execution in which drain_saturated_cells
actually re-split saturated cells.
"""

from __future__ import annotations

from .queries_dedup_exact_cells2 import _TH, build_drained_pairs
from .registry import register
from .shared_sql import cos_sql

# fires at every test SF: measured candidate loads are ~25-40k/cell at
# sf0.001 and sf0.01 (8 trained cells over 500 vecs), all above 20k
_CAND_CAP_HOT = 20_000


@register(
    "dedup_embedding_exact_pairs_drained_hot",
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
    doc="firing-path twin of dedup_embedding_exact_pairs_drained: the "
    "identical candidate-aware drain plan with a 20k load cap that "
    "every test-SF cell exceeds, so the hot-cell refinement loop "
    "actually runs during attestation — results provably identical "
    "under any cell partition (cell-agnostic ball bound), oracle is "
    "the brute-force all-pairs SQL",
)
def dedup_embedding_exact_pairs_drained_hot(spark, sf_dir):
    return build_drained_pairs(spark, sf_dir, _CAND_CAP_HOT)
