"""Batched multi-query MMR re-ranking.

`q_mmr_rerank` diversifies ONE retrieval; production MMR re-ranks MANY
retrievals per batch (one per eval prompt / user query). The batched
shape (VERDICT r12 Next #8) is structurally different from looping the
single-query operator — and strictly more Spark-native:

- the per-query candidate POOLs come from one corpus pass: corpus ×
  Q-row query frame via broadcast (map-side scoring), then top-P PER
  QUERY through a window partitioned by query_id (Q-way parallel
  TakeOrdered, never a global sort);
- the greedy loop keeps the selected set as a (Q × step)-row
  DataFrame, checkpointed per step — each step is ONE broadcast join
  (remaining pool × selected vectors), a max-sim aggregation, and a
  per-query top-1 window. The DRIVER NEVER COLLECTS anything: unlike
  the single-query operator's fold-as-literals trick, state stays
  distributed, so Q can be thousands of queries with the same k
  bounded steps.

All arithmetic is fixed-point ppm BIGINT (the queries_mmr discipline:
6dp-rounded cosines scaled to integers, lambda = 0.7 as 7*rel -
3*maxsim), so selection is bit-identical on both engines; the oracle
unrolls the same k steps as chained CTEs with PARTITION BY query_id
windows (the kmeans-oracle discipline, per-query this time).
Deterministic tiebreaks: score desc, doc id asc, within each query.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from .queries_mmr import _LDEN, _LNUM, _sim_ppm_sql
from .registry import register

_QIDS = [0, 1, 2]  # query vectors: embeddings of these vec_ids
_QIN = ", ".join(str(q) for q in _QIDS)
_POOL = 10  # per-query pool depth
_K = 4  # selections per query

_V = "LIST_TRANSFORM({}, x -> CAST(x AS DOUBLE))"


def _oracle() -> str:
    sql = f"""
    WITH mmq AS (
      SELECT vec_id AS query_id, {_V.format("embedding")} AS qv
      FROM embeddings WHERE vec_id IN ({_QIN})
    ),
    mpool AS (
      SELECT query_id, doc_id, v, rel_ppm FROM (
        SELECT q.query_id, e.vec_id AS doc_id,
               {_V.format("e.embedding")} AS v,
               {_sim_ppm_sql(_V.format("e.embedding"), "q.qv")} AS rel_ppm
        FROM embeddings e, mmq q WHERE e.vec_id NOT IN ({_QIN}))
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel_ppm DESC, doc_id) <= {_POOL}
    ),
    msel1 AS (
      SELECT query_id, 1 AS sel_rank, doc_id, v, rel_ppm,
             CAST({_LNUM} * rel_ppm AS BIGINT) AS mmr_score_sppm
      FROM mpool
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY rel_ppm DESC, doc_id) = 1
    )"""
    union = (
        "SELECT query_id, sel_rank, doc_id, rel_ppm, mmr_score_sppm"
        " FROM msel1"
    )
    for i in range(2, _K + 1):
        prev = "".join(
            f" UNION ALL SELECT * FROM msel{j}" for j in range(2, i)
        )
        sql += f""",
    mseln{i} AS (
      SELECT * FROM msel1{prev}
    ),
    mcand{i} AS (
      SELECT p.query_id, p.doc_id, p.v, p.rel_ppm,
             MAX({_sim_ppm_sql("p.v", "s.v")}) AS maxsim_ppm
      FROM mpool p JOIN mseln{i} s ON p.query_id = s.query_id
      WHERE NOT EXISTS (SELECT 1 FROM mseln{i} x
                        WHERE x.query_id = p.query_id
                          AND x.doc_id = p.doc_id)
      GROUP BY p.query_id, p.doc_id, p.v, p.rel_ppm
    ),
    msel{i} AS (
      SELECT query_id, {i} AS sel_rank, doc_id, v, rel_ppm,
             CAST({_LNUM} * rel_ppm - {_LDEN} * maxsim_ppm AS BIGINT)
               AS mmr_score_sppm
      FROM mcand{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY mmr_score_sppm DESC, doc_id) = 1
    )"""
        union += (
            f" UNION ALL SELECT query_id, sel_rank, doc_id, rel_ppm,"
            f" mmr_score_sppm FROM msel{i}"
        )
    sql += f"""
    SELECT query_id, CAST(sel_rank AS BIGINT) AS sel_rank, doc_id,
           rel_ppm, mmr_score_sppm
    FROM ({union})
    """
    return sql


def _sim_ppm_cols(a, b):
    """Fixed-point ppm cosine between two array<double> COLUMNS (the
    queries_mmr._sim_ppm twin for column-column instead of
    column-literal; same rounding so selections stay bit-identical)."""
    from ..operators.dedup import cosine

    return F.round(cosine(a, b) * F.lit(1_000_000.0)).cast("long")


@register(
    "q_mmr_rerank_multi",
    _oracle(),
    doc="batched MMR: per-query pools from one corpus pass (broadcast "
    "query frame + query_id-partitioned top-P window), then k greedy "
    "steps where the selected set is a Q-row checkpointed DataFrame — "
    "each step one broadcast join + max-sim agg + per-query top-1 "
    "window, driver collects nothing, so Q scales to thousands of "
    "queries; fixed-point ppm integers make selection bit-identical "
    "and the oracle unrolls the same k steps as chained CTEs",
)
def q_mmr_rerank_multi(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    mq = F.broadcast(
        emb.where(F.col("vec_id").isin(_QIDS)).select(
            F.col("vec_id").alias("query_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
    )
    corpus = emb.where(~F.col("vec_id").isin(_QIDS)).select(
        F.col("vec_id").alias("doc_id"),
        _as_double(F.col("embedding")).alias("v"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("rel_ppm"), F.asc("doc_id")
    )
    pool = (
        corpus.crossJoin(mq)
        .withColumn("rel_ppm", _sim_ppm_cols(F.col("v"), F.col("qv")))
        .drop("qv")
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= _POOL)
        .drop("_rn")
        .localCheckpoint()
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("mmr_score_sppm"), F.asc("doc_id")
    )
    sel = (
        pool.withColumn(
            "mmr_score_sppm",
            (F.lit(_LNUM) * F.col("rel_ppm")).cast("long"),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("rel_ppm"), F.asc("doc_id")
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("sel_rank", F.lit(1).cast("long"))
        .localCheckpoint()
    )
    for step in range(2, _K + 1):
        remaining = pool.join(
            sel.select("query_id", "doc_id"),
            ["query_id", "doc_id"],
            "left_anti",
        )
        sel_vecs = F.broadcast(
            sel.select("query_id", F.col("v").alias("sv"))
        )
        pick = (
            remaining.join(sel_vecs, "query_id")
            .withColumn(
                "_sim", _sim_ppm_cols(F.col("v"), F.col("sv"))
            )
            .groupBy("query_id", "doc_id", "rel_ppm")
            .agg(
                F.max("_sim").alias("maxsim_ppm"),
                F.any_value("v").alias("v"),
            )
            .withColumn(
                "mmr_score_sppm",
                (
                    F.lit(_LNUM) * F.col("rel_ppm")
                    - F.lit(_LDEN) * F.col("maxsim_ppm")
                ).cast("long"),
            )
            .withColumn("_rn", F.row_number().over(ws))
            .where(F.col("_rn") == 1)
            .select(
                "query_id",
                "doc_id",
                "v",
                "rel_ppm",
                "mmr_score_sppm",
            )
            .withColumn("sel_rank", F.lit(step).cast("long"))
        )
        sel = sel.unionByName(pick).localCheckpoint()
    return sel.select(
        "query_id", "sel_rank", "doc_id", "rel_ppm", "mmr_score_sppm"
    )
