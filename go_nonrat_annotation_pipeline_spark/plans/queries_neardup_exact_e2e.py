"""Exact embedding near-dup E2E: lossless pair join -> components ->
canonical survivor.

Composes the round's exact family at pipeline altitude: the
candidate-aware drained EXACT pair join (zero false negatives by the
cell-agnostic ball bound) feeds star connected components
(diameter-independent, O(log n) rounds on the pair graph << corpus)
and a one-window survivorship pass (lowest vec_id wins — embeddings
carry no richer tiebreaker). Because the pair set is EXACT, the whole
E2E is exact: the oracle recomputes it from the brute-force all-pairs
SQL with a recursive-reachability mirror of the components. This is
the embedding-space analogue of q_cluster_canonical (MinHash pairs,
probabilistic recall) with the recall caveat REMOVED — the shape a
100 TB dedup actually wants when the dup definition is a cosine
threshold: bucketed candidate generation that provably misses nothing,
then linear component/survivor passes over the pair-graph.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dedup import connected_components_star
from .registry import register
from .shared_sql import cos_sql
from .queries_dedup_exact_cells2 import (
    _TH,
    dedup_embedding_exact_pairs_drained,
)


@register(
    "corpus_neardup_exact_e2e",
    f"""
    WITH RECURSIVE dec_v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    pairs AS (
      SELECT vec_id_a, vec_id_b FROM (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               ROUND({cos_sql('a.v', 'b.v')}, 6) AS cosine
        FROM dec_v a JOIN dec_v b ON a.vec_id < b.vec_id)
      WHERE cosine >= {_TH}
    ),
    edges AS (
      SELECT vec_id_a AS u, vec_id_b AS v FROM pairs
      UNION
      SELECT vec_id_b AS u, vec_id_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS member FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.member
    ),
    clusters AS (
      SELECT node AS vec_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT vec_id, cluster_id,
           vec_id = cluster_id AS is_canonical
    FROM clusters
    """,
    doc="exact embedding near-dup E2E: drained lossless pair join -> "
    "star connected components -> lowest-id survivor per cluster; the "
    "pair set is exact, so the E2E verdict table (who clusters with "
    "whom, who survives) matches the brute-force recursive oracle "
    "with zero recall caveat",
)
def corpus_neardup_exact_e2e(spark, sf_dir):
    pairs = dedup_embedding_exact_pairs_drained(spark, sf_dir).select(
        "vec_id_a", "vec_id_b"
    )
    comps = connected_components_star(
        pairs, a_col="vec_id_a", b_col="vec_id_b"
    ).select(
        F.col("doc_id").alias("vec_id"),
        "cluster_id",
    )
    w = Window.partitionBy("cluster_id").orderBy("vec_id")
    return comps.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    )
