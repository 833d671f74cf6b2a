"""Batched multi-query hybrid RRF fusion.

`q_rrf_fusion` fuses ONE hybrid query; a production retrieval batch
fuses many (one per eval prompt). This is the batched twin, and —
like `q_mmr_rerank_multi` — the batch shape is MORE Spark-native than
a loop over the single-query operator:

- lexical leg: the existing `bm25_scores_multi` operator — the whole
  (query_id, term) workload scored in ONE corpus pass, top-K per
  query through a PARTITIONED window (Q-way parallel, never a global
  sort);
- semantic leg: corpus × broadcast Q-row query-vector frame (map-side
  cosine scoring), top-K per query through the same partitioned
  window shape — each query excludes its own query vector from the
  corpus, mirroring the single-query plan;
- fusion: the two (Q×K)-row rank lists full-outer-join on
  (query_id, doc_id) — rank-list-sized frames — then fixed-point
  integer RRF (1e9 DIV (60+rank), the q_rrf_fusion discipline: no
  cross-row float summation, oracle hash-exact) and a per-query
  top-N window.

Driver sees only the Q query-vector rows (folded as one broadcast
frame); every ranking window is partitioned by query_id, so the plan
has no single-partition stage at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import retrieval as R
from ..operators.dedup import cosine
from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

# (query_id, semantic query vec_id, lexical terms)
_QUERIES = [
    ("q1", 0, ["spark", "merge"]),
    ("q2", 1, ["window", "spark"]),
    ("q3", 2, ["merge"]),
]
_K = 20  # per-leg, per-query rank depth
_C = 60
_TOP = 5  # fused results per query
_PPB = 1_000_000_000

_LEX_PAIRS = [(q, t) for q, _, terms in _QUERIES for t in terms]
_LEX_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _LEX_PAIRS)
_QV_VALUES = ", ".join(f"('{q}', {v})" for q, v, _ in _QUERIES)
_V = "LIST_TRANSFORM({}, x -> CAST(x AS DOUBLE))"


@register(
    "q_rrf_fusion_multi",
    f"""
    WITH q(query_id, term) AS (VALUES {_LEX_VALUES}),
    base AS (
      SELECT doc_id AS _id, LEN(STRING_SPLIT(text, ' ')) AS dl,
             STRING_SPLIT(text, ' ') AS ws
      FROM documents
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    avg_ AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)
               AS avgdl
      FROM base
    ), terms AS (
      SELECT _id, dl, UNNEST(ws) AS term FROM base
    ), tf AS (
      SELECT _id, dl, term, COUNT(*) AS tf FROM terms
      WHERE term IN (SELECT term FROM q) GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT term,
             LN(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
      FROM dfreq
    ), contrib AS (
      SELECT tf._id, tf.term,
             idf.idf * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (tf.dl / (SELECT avgdl FROM avg_)))) AS c
      FROM tf JOIN idf ON tf.term = idf.term
    ), perq AS (
      SELECT q.query_id, contrib._id, ROUND(SUM(c), 6) AS bm25
      FROM contrib JOIN q ON contrib.term = q.term
      GROUP BY 1, 2
    ), lex AS (
      SELECT query_id, _id AS doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY bm25 DESC, _id)
                  AS BIGINT) AS lex_rank
      FROM perq
      QUALIFY lex_rank <= {_K}
    ),
    qmap(query_id, qvec_id) AS (VALUES {_QV_VALUES}),
    qv AS (
      SELECT m.query_id, m.qvec_id, {_V.format("e.embedding")} AS v
      FROM qmap m JOIN embeddings e ON e.vec_id = m.qvec_id
    ), sem AS (
      SELECT query_id, doc_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, doc_id)
                  AS BIGINT) AS sem_rank
      FROM (
        SELECT q.query_id, e.vec_id AS doc_id,
               ROUND({cos_sql(_V.format("e.embedding"), "q.v")}, 6)
                 AS cosine
        FROM embeddings e, qv q WHERE e.vec_id != q.qvec_id)
      QUALIFY sem_rank <= {_K}
    ), fused AS (
      SELECT COALESCE(l.query_id, s.query_id) AS query_id,
             COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             CAST(COALESCE({_PPB} // ({_C} + l.lex_rank), 0)
                + COALESCE({_PPB} // ({_C} + s.sem_rank), 0)
               AS BIGINT) AS rrf_ppb
      FROM lex l FULL OUTER JOIN sem s
        ON l.query_id = s.query_id AND l.doc_id = s.doc_id
    )
    SELECT query_id, doc_id, lex_rank, sem_rank, rrf_ppb,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_ppb DESC, doc_id)
                AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_TOP}
    """,
    doc="batched hybrid retrieval: BM25 multi-query leg and broadcast "
    "semantic leg each score the whole workload in one corpus pass "
    "with per-query partitioned top-K windows, rank lists full-outer-"
    "join on (query_id, doc_id), fixed-point 1e9/(60+rank) integer "
    "RRF, per-query top-5 — no single-partition stage at any corpus "
    "size",
)
def q_rrf_fusion_multi(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_LEX_PAIRS, ["query_id", "term"])
    lex = R.bm25_scores_multi(
        docs, queries, "doc_id", "text", "query_id", "term", 1.2, 0.75, _K
    ).select(
        "query_id",
        "doc_id",
        F.col("rank").cast("long").alias("lex_rank"),
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qmap = spark.createDataFrame(
        [(q, v) for q, v, _ in _QUERIES], ["query_id", "qvec_id"]
    )
    qv = F.broadcast(
        qmap.join(emb, qmap["qvec_id"] == emb["vec_id"]).select(
            "query_id",
            "qvec_id",
            _as_double(F.col("embedding")).alias("qv"),
        )
    )
    wsem = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("doc_id")
    )
    sem = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            _as_double(F.col("embedding")).alias("v"),
        )
        .crossJoin(qv)
        .where(F.col("doc_id") != F.col("qvec_id"))
        .withColumn(
            "cosine", F.round(cosine(F.col("v"), F.col("qv")), 6)
        )
        .withColumn("sem_rank", F.row_number().over(wsem).cast("long"))
        .where(F.col("sem_rank") <= _K)
        .select("query_id", "doc_id", "sem_rank")
    )
    fused = (
        lex.join(sem, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf_ppb",
            (
                F.coalesce(
                    F.expr(f"{_PPB}L DIV ({_C} + lex_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{_PPB}L DIV ({_C} + sem_rank)"), F.lit(0)
                )
            ).cast("long"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_ppb"), F.asc("doc_id")
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(wf).cast("long")
        )
        .where(F.col("fused_rank") <= _TOP)
        .select(
            "query_id",
            "doc_id",
            "lex_rank",
            "sem_rank",
            "rrf_ppb",
            "fused_rank",
        )
    )
