"""Corpus-curation queries: leakage-safe splitting and benchmark
decontamination — the two guards every training-data pipeline runs
between dedup and dataset export.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import sql_char_hash
from ..operators import dedup as D
from ..operators.sampling import cluster_safe_split, contamination_pairs
from ..sources.testdata import load_table
from .queries_dedup import _PAIR_CTES
from .registry import register

# ---------------------------------------------------------------------------
# Cluster-safe train/test split: the split gate hashes the near-dup
# CLUSTER id, so no near-duplicate of a test doc can land in train.
# By construction zero pairs cross splits (split is a function of
# cluster_id); the output certifies the resulting sizes.
# ---------------------------------------------------------------------------
@register(
    "q_cluster_safe_split",
    f"""
    WITH RECURSIVE {_PAIR_CTES},
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
    clusters AS (
      SELECT node AS doc_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    ),
    allc AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ),
    splitd AS (
      SELECT doc_id, cluster_id,
             CASE WHEN SUBSTR(MD5(CAST(cluster_id AS VARCHAR)), 1, 2) <= 'cc'
                  THEN 'train' ELSE 'test' END AS split
      FROM allc
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM splitd GROUP BY split
    """,
    doc="curation: near-dup-cluster-keyed train/test split (no cluster "
    "straddles splits — leakage-safe by construction)",
)
def q_cluster_safe_split(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.7)
    clusters = D.connected_components_star(pairs)
    out = cluster_safe_split(docs, clusters, "doc_id", "cc")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination: exact 13-word-shingle overlap between the
# training corpus and a (pseudo) held-out set.
# ---------------------------------------------------------------------------
_CONTAM_N = 13
_CONTAM_SQL_GRAMS = f"""
      LIST_DISTINCT(CASE WHEN LEN(ws) >= {_CONTAM_N} THEN
        LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - {_CONTAM_N - 1}),
          i -> {sql_char_hash(
              f"ARRAY_TO_STRING(LIST_SLICE(ws, i, i + {_CONTAM_N - 1}), ' ')"
          )})
      ELSE [] END)
"""


@register(
    "q_contamination_13gram",
    f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ), g AS (
      SELECT doc_id, UNNEST({_CONTAM_SQL_GRAMS}) AS g FROM d
    ),
    tr AS (SELECT doc_id AS train_id, g FROM g WHERE doc_id % 97 <> 0),
    te AS (SELECT doc_id AS test_id, g FROM g WHERE doc_id % 97 = 0)
    SELECT train_id, test_id, CAST(COUNT(*) AS BIGINT) AS shared
    FROM tr JOIN te USING (g)
    GROUP BY 1, 2
    """,
    doc="curation: train/test exact 13-gram contamination pairs "
    "(md5 gram-text hashes — overflow-free at any n)",
)
def q_contamination_13gram(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 97 != 0)
    test = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_pairs(train, test, "doc_id", "text", _CONTAM_N)
