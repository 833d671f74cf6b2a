"""Canonical-doc-per-cluster curation query.

The step a dedup pipeline runs after clustering: collapse each
near-dup cluster to its best representative (here: most content,
n_chars desc, tie on lower doc_id) and mark the rest as drops. Spark:
star connected components (diameter-independent) + one broadcast-safe
join to the cluster table (pair-graph-sized ≪ corpus) + one window on
the cluster id. Oracle: the recursive-reachability mirror of the
components plus the same window.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import PAIR_CTES as _PAIR_CTES

_THRESH = 0.7


@register(
    "q_cluster_canonical",
    f"""
    WITH RECURSIVE {_PAIR_CTES},
    pairs AS (SELECT id_a, id_b FROM ver WHERE j >= {_THRESH}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS member FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.member
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT c.doc_id, c.cluster_id, k.canonical_id,
           c.doc_id = k.canonical_id AS is_canonical
    FROM clusters c JOIN (
      SELECT cluster_id, doc_id AS canonical_id FROM (
        SELECT c2.cluster_id, c2.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c2.cluster_id
                                  ORDER BY d.n_chars DESC, c2.doc_id) AS rn
        FROM clusters c2 JOIN documents d ON d.doc_id = c2.doc_id)
      WHERE rn = 1) k
    ON k.cluster_id = c.cluster_id
    """,
    doc="curation: collapse each near-dup cluster to its best "
    "representative (n_chars desc, doc_id asc) — star components + one "
    "window over the pair-graph-sized cluster table",
)
def q_cluster_canonical(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, _THRESH)
    clusters = D.connected_components_star(pairs)
    sized = clusters.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    canon = (
        sized.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_id"))
    )
    return clusters.join(F.broadcast(canon), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )
