"""Dedup-aware sampling (cluster-downweighted selection).

Dropping all-but-one near-duplicate (q_cluster_canonical) is the blunt
instrument; training-mixture work (SlimPajama-style) instead KEEPS
duplicated content at reduced rate so heavily-cloned boilerplate stops
dominating the token budget without zeroing out popular content. Here
each document's keep-rate is 1/cluster_size (permille-floored), applied
through the repo's deterministic md5 hash gate — replayable, no RNG
state, and exactly mirrored in SQL.

Composite of attested pieces: MinHash-LSH verified pairs → star
components → cluster sizes (singletons = size 1 via left join) → hash
gate. One extra dictionary-sized join over the canonical-selection
pipeline; everything corpus-sized stays map-side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.sketches import hash60, sql_hash60
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import PAIR_CTES as _PAIR_CTES

_GATE_SALT = "dw|"

# cluster sizes over every doc (singletons included), then the gate
_SIZE_CTES = f"""
    pairs AS (SELECT id_a, id_b FROM ver WHERE j >= 0.7),
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
    comp AS (
      SELECT node AS doc_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    ),
    labeled AS (
      SELECT d.doc_id, d.source,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    sized AS (
      SELECT l.doc_id, l.source, l.cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
      FROM labeled l
    ),
    gated AS (
      SELECT doc_id, source, cluster_id, cluster_size,
             CAST(1000 // cluster_size AS BIGINT) AS w_permille,
             CAST(CASE WHEN {sql_hash60(
                 f"'{_GATE_SALT}' || CAST(doc_id AS VARCHAR)")} % 1000
                       < 1000 // cluster_size
                  THEN 1 ELSE 0 END AS BIGINT) AS selected
      FROM sized
    )"""


def _gated(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.7)
    comp = D.connected_components_star(pairs)
    labeled = docs.select("doc_id", "source").join(
        comp, "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    gate_h = hash60(
        F.concat(F.lit(_GATE_SALT), F.col("doc_id").cast("string"))
    )
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "source",
        "cluster_id",
        "cluster_size",
        F.expr("1000 DIV cluster_size").alias("w_permille"),
        F.when(
            (gate_h % 1000) < F.expr("1000 DIV cluster_size"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("selected"),
    )


@register(
    "q_dedup_aware_sampling",
    f"""
    WITH RECURSIVE {_PAIR_CTES},
    {_SIZE_CTES}
    SELECT doc_id, cluster_id, cluster_size, w_permille, selected
    FROM gated
    """,
    doc="dedup-aware selection: every doc kept at rate 1/cluster_size "
    "(LSH pairs → star components → deterministic md5 permille gate) "
    "— duplicated content downweighted instead of deleted, the "
    "training-mixture posture; per-doc decisions hash-attested",
)
def q_dedup_aware_sampling(spark, sf_dir):
    return _gated(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size", "w_permille", "selected"
    )


@register(
    "q_dedup_aware_report",
    f"""
    WITH RECURSIVE {_PAIR_CTES},
    {_SIZE_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_dup_clusters,
           CAST(SUM(selected) AS BIGINT) AS n_selected
    FROM gated
    GROUP BY source
    """,
    doc="per-source dedup-aware budget report: how much of each "
    "source sits in duplicate clusters and what survives the "
    "1/cluster_size gate — the mixture-rebalancing view",
)
def q_dedup_aware_report(spark, sf_dir):
    return (
        _gated(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("cluster_size") > 1, 1).otherwise(0)
            ).alias("n_in_dup_clusters"),
            F.sum("selected").alias("n_selected"),
        )
    )
