"""Exact DBSCAN over embeddings.

Density-based clustering (Ester et al., KDD 1996) with the cosine
eps-neighborhood: core = >= MINPTS neighbors at cosine >= eps, clusters
= connected components of the core-core subgraph, border = non-core
with a core neighbor (assigned the MIN reachable cluster id —
deterministic), noise = the rest. Every stage reuses certified
machinery, which is what makes this EXACT DBSCAN a 100 TB operator
rather than a sampling heuristic:

- the eps-neighbor graph is the lossless cell-pruned exact pair join
  (capped train sample, compatibility table, per-row residual
  tightening — operators/decontam_ann, the
  dedup_embedding_exact_pairs family) at eps = 0.35;
- components run on the CORE-CORE subgraph only via large-star/
  small-star (operators/dedup.connected_components_star, O(log n)
  rounds at any diameter);
- border assignment is one edge join + a min-aggregate.

The oracle is the brute-force graph in SQL: quadratic pair join,
degrees, recursive reachability over core edges — exact labels, so
the driver hash gate checks the whole role/cluster assignment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.decontam_ann import (
    build_bench_cells,
    residual_to_cell,
    train_sample,
)
from ..operators.pair_blocks import block_candidate_pairs
from ..operators.dedup import connected_components_star, cosine
from ..operators.similarity import _as_double, argmax_cell
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

_EPS = 0.35
_MINPTS = 3  # core = at least 3 neighbors (self excluded)
_K = 8
_TRAIN_TARGET = 2000


def _exact_pairs(spark, sf_dir):
    """Exact (vec_id_a < vec_id_b) pairs with cosine >= _EPS via the
    lossless cell machinery (the dedup_embedding_exact_pairs shape at
    a different threshold; cells steer pruning, never results)."""
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    sample_rows = train_sample(vecs, "vec_id", "v", target=_TRAIN_TARGET)
    _, cells = build_bench_cells(sample_rows, k=_K)
    if not cells:
        return spark.createDataFrame(
            [], "vec_id_a long, vec_id_b long"
        )
    cent_rows = [(cid, cv) for cid, cv, _ in cells]
    assigned = (
        vecs.select(
            "vec_id",
            "v",
            argmax_cell(F.col("v"), cent_rows).alias("cell"),
        )
        .withColumn(
            "res",
            residual_to_cell(F.col("v"), F.col("cell"), cent_rows),
        )
        .localCheckpoint(eager=False)
    )
    maxres = {
        r[0]: r[1]
        for r in assigned.groupBy("cell")
        .agg(F.max("res").alias("res"))
        .collect()
    }
    full_cells = [
        (cid, cv, float(maxres.get(cid, 0.0))) for cid, cv in cent_rows
    ]
    # r13-opt: blocked matmul candidates + exact expression re-rank
    # (operators/pair_blocks.py, guide §4.2/§8) — the eps-graph edges
    # are unchanged, the per-candidate 64-dim JVM cosine is not.
    cand = block_candidate_pairs(assigned, full_cells, _EPS)
    return (
        cand.where(
            F.round(cosine(F.col("va"), F.col("vb")), 6)
            >= F.lit(_EPS)
        )
        .select("vec_id_a", "vec_id_b")
    )


@register(
    "q_dbscan_clusters",
    f"""
    WITH RECURSIVE dbv AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dbp AS (
      SELECT vec_id_a, vec_id_b FROM (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               ROUND({cos_sql('a.v', 'b.v')}, 6) AS cosine
        FROM dbv a JOIN dbv b ON a.vec_id < b.vec_id)
      WHERE cosine >= {_EPS}
    ),
    dbe AS (
      SELECT vec_id_a AS u, vec_id_b AS w FROM dbp
      UNION ALL
      SELECT vec_id_b AS u, vec_id_a AS w FROM dbp
    ),
    deg AS (SELECT u, COUNT(*) AS deg FROM dbe GROUP BY 1),
    core AS (SELECT u FROM deg WHERE deg >= {_MINPTS}),
    ce AS (
      SELECT e.u, e.w FROM dbe e
      JOIN core ca ON e.u = ca.u JOIN core cb ON e.w = cb.u
    ),
    reach AS (
      SELECT u AS node, u AS member FROM core
      UNION
      SELECT r.node, e.w FROM reach r JOIN ce e ON e.u = r.member
    ),
    core_cluster AS (
      SELECT node AS vec_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    ),
    border AS (
      SELECT e.u AS vec_id, MIN(cc.cluster_id) AS cluster_id
      FROM dbe e JOIN core_cluster cc ON e.w = cc.vec_id
      WHERE e.u NOT IN (SELECT u FROM core)
      GROUP BY e.u
    )
    SELECT v.vec_id,
           CASE WHEN cc.vec_id IS NOT NULL THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cc.cluster_id, b.cluster_id) AS cluster_id
    FROM dbv v
    LEFT JOIN core_cluster cc ON v.vec_id = cc.vec_id
    LEFT JOIN border b ON v.vec_id = b.vec_id
    """,
    doc="exact DBSCAN (eps = cosine 0.35, minPts = 3): eps-graph from "
    "the lossless cell-pruned exact pair join, clusters = star "
    "connected components of the core-core subgraph (O(log n) "
    "rounds), border = min reachable cluster over one edge join, "
    "noise = rest; the full role/cluster assignment matches the "
    "brute-force recursive oracle",
)
def q_dbscan_clusters(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pairs = _exact_pairs(spark, sf_dir).localCheckpoint(eager=False)
    edges = pairs.select(
        F.col("vec_id_a").alias("u"), F.col("vec_id_b").alias("w")
    ).unionByName(
        pairs.select(
            F.col("vec_id_b").alias("u"), F.col("vec_id_a").alias("w")
        )
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.where(F.col("deg") >= _MINPTS).select("u")
    ce = (
        edges.join(core.withColumnRenamed("u", "cu"), F.col("u") == F.col("cu"))
        .drop("cu")
        .join(core.withColumnRenamed("u", "cw"), F.col("w") == F.col("cw"))
        .drop("cw")
    )
    comps = connected_components_star(
        ce, a_col="u", b_col="w"
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id")
    # isolated cores (no core neighbor) are their own cluster
    core_cluster = comps.unionByName(
        core.join(
            comps, core["u"] == comps["vec_id"], "left_anti"
        ).select(
            F.col("u").alias("vec_id"), F.col("u").alias("cluster_id")
        )
    )
    border = (
        edges.join(
            core_cluster.withColumnRenamed("vec_id", "w"),
            "w",
        )
        .join(core.withColumnRenamed("u", "cu"), F.col("u") == F.col("cu"), "left_anti")
        .groupBy("u")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("u").alias("vec_id"), "cluster_id")
    )
    return (
        emb.join(
            core_cluster.withColumnRenamed("cluster_id", "core_cl"),
            "vec_id",
            "left",
        )
        .join(
            border.withColumnRenamed("cluster_id", "border_cl"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("core_cl").isNotNull(), "core")
            .when(F.col("border_cl").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("core_cl", "border_cl").alias("cluster_id"),
        )
    )
