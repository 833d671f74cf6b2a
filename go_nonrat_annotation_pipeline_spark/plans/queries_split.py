"""Leakage-safe splitting queries (operators/splitting.py).

Cluster key for the documents table: the 40-char content prefix (the
same key family dedup_exact attests) — the synthetic corpus's
duplicate families share it, so the naive doc-id split measurably
leaks (clusters straddling train/eval) while the cluster-keyed split
is leak-free by construction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import splitting as SP
from ..sources.testdata import load_table
from .registry import register

_SALT = "split0"
_KEY_SQL = "SUBSTR(text, 1, 40)"

_SPLIT_GROUPED = SP.sql_split_of(_KEY_SQL, _SALT)
_SPLIT_NAIVE = SP.sql_split_of("doc_id", _SALT)


def _assigned(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return SP.assign_splits(
        docs, F.substring("text", 1, 40), _SALT
    )


@register(
    "q_leakage_safe_split",
    f"""
    WITH sp_a AS (
      SELECT {_KEY_SQL} AS cluster,
             {_SPLIT_GROUPED} AS split
      FROM documents
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters
    FROM sp_a GROUP BY split
    """,
    doc="leakage-safe split: train/val/test assignment by md5 gate on "
    "the dedup-cluster key (40-char content prefix) — duplicate "
    "families land in ONE split by construction; pure map stage, no "
    "shuffle for assignment (operators/splitting.assign_splits)",
)
def q_leakage_safe_split(spark, sf_dir):
    return (
        _assigned(spark, sf_dir)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("cluster").cast("long").alias("n_clusters"),
        )
    )


@register(
    "q_split_leakage_audit",
    f"""
    WITH sp_a AS (
      SELECT {_KEY_SQL} AS cluster,
             {_SPLIT_GROUPED} AS split_grouped,
             {_SPLIT_NAIVE} AS split_naive
      FROM documents
    ), sp_c AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_docs,
             COUNT(DISTINCT split_grouped) AS k_grouped,
             COUNT(DISTINCT split_naive) AS k_naive
      FROM sp_a GROUP BY cluster
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_doc_clusters,
           CAST(SUM(CASE WHEN k_grouped > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaky_grouped,
           CAST(SUM(CASE WHEN k_naive > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS leaky_naive,
           CAST(SUM(CASE WHEN k_naive > 1 THEN n_docs ELSE 0 END)
                AS BIGINT) AS docs_in_leaky_naive
    FROM sp_c
    """,
    doc="split-leakage audit: clusters spanning >1 split under the "
    "cluster-keyed assignment (zero by construction) vs the naive "
    "doc-id hash twin (strictly positive on this corpus's duplicate "
    "families) — the measured reason the cluster key is mandatory "
    "(Lee et al. 2022 §6)",
)
def q_split_leakage_audit(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(
        F.substring("text", 1, 40).alias("cluster"),
        SP.split_of(F.substring("text", 1, 40), _SALT).alias("split_grouped"),
        SP.split_of(F.col("doc_id"), _SALT).alias("split_naive"),
    )
    c = a.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("split_grouped").alias("k_grouped"),
        F.countDistinct("split_naive").alias("k_naive"),
    )
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_doc_clusters"),
        F.sum(F.when(F.col("k_grouped") > 1, 1).otherwise(0))
        .cast("long")
        .alias("leaky_grouped"),
        F.sum(F.when(F.col("k_naive") > 1, 1).otherwise(0))
        .cast("long")
        .alias("leaky_naive"),
        F.sum(F.when(F.col("k_naive") > 1, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("docs_in_leaky_naive"),
    )
