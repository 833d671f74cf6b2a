"""Epoch-shuffle layout queries (operators/epochshuffle.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import epochshuffle as ES
from ..sources.testdata import load_table
from .registry import register

_SHARDS = 16


@register(
    "q_epoch_shuffle_layout",
    f"""
    WITH {ES.sql_epoch_layout_cte('es_e0', 0, _SHARDS)}
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(rank) AS BIGINT) AS max_rank,
           CAST(SUM(rank * (doc_id % 10007)) AS BIGINT) AS perm_checksum
    FROM es_e0 GROUP BY shard
    """,
    doc="deterministic epoch-0 shuffle layout: md5-hash shard + "
    "within-shard rank (partitioned window, no global sort); per-shard "
    "permutation-sensitive checksum proves both engines derive the "
    "IDENTICAL read order (operators/epochshuffle.epoch_layout)",
)
def q_epoch_shuffle_layout(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lay = ES.epoch_layout(docs, 0, _SHARDS)
    return lay.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("rank").cast("long").alias("max_rank"),
        F.sum(F.col("rank") * (F.col("doc_id") % 10007))
        .cast("long")
        .alias("perm_checksum"),
    )


@register(
    "q_epoch_shuffle_decorrelation",
    f"""
    WITH {ES.sql_epoch_layout_cte('es_e0', 0, _SHARDS)},
    {ES.sql_epoch_layout_cte('es_e1', 1, _SHARDS)},
    es_off0 AS (
      SELECT shard, COALESCE(SUM(cnt) OVER (ORDER BY shard
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM (SELECT shard, COUNT(*) AS cnt FROM es_e0 GROUP BY shard)
    ),
    es_off1 AS (
      SELECT shard, COALESCE(SUM(cnt) OVER (ORDER BY shard
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM (SELECT shard, COUNT(*) AS cnt FROM es_e1 GROUP BY shard)
    ),
    es_g0 AS (
      SELECT e.doc_id, e.shard, o.off + e.rank AS gpos
      FROM es_e0 e JOIN es_off0 o USING (shard)
    ),
    es_g1 AS (
      SELECT e.doc_id, e.shard, o.off + e.rank AS gpos
      FROM es_e1 e JOIN es_off1 o USING (shard)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN a.shard = b.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_shard,
           CAST(SUM(CASE WHEN a.gpos = b.gpos THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_gpos,
           CAST(SUM(ABS(a.gpos - b.gpos)) AS BIGINT) AS sum_abs_disp
    FROM es_g0 a JOIN es_g1 b USING (doc_id)
    """,
    doc="epoch decorrelation audit: epoch 0 vs 1 — same-shard survival "
    "~1/n_shards, near-zero fixed points, total positional displacement "
    "approaching the uniform-permutation expectation n²/3 — evidence a "
    "salt/epoch bump is a RESHUFFLE, not a perturbation",
)
def q_epoch_shuffle_decorrelation(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    g0 = ES.global_positions(ES.epoch_layout(docs, 0, _SHARDS)).withColumnRenamed(
        "gpos", "g0"
    )
    g1 = ES.global_positions(ES.epoch_layout(docs, 1, _SHARDS)).withColumnRenamed(
        "gpos", "g1"
    )
    s0 = ES.epoch_layout(docs, 0, _SHARDS).select(
        "doc_id", F.col("shard").alias("sh0")
    )
    s1 = ES.epoch_layout(docs, 1, _SHARDS).select(
        "doc_id", F.col("shard").alias("sh1")
    )
    j = g0.join(g1, "doc_id").join(s0, "doc_id").join(s1, "doc_id")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("sh0") == F.col("sh1"), 1).otherwise(0))
        .cast("long")
        .alias("n_same_shard"),
        F.sum(F.when(F.col("g0") == F.col("g1"), 1).otherwise(0))
        .cast("long")
        .alias("n_same_gpos"),
        F.sum(F.abs(F.col("g0") - F.col("g1")))
        .cast("long")
        .alias("sum_abs_disp"),
    )
