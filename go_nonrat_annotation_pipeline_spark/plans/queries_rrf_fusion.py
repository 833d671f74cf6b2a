"""Reciprocal-rank fusion of lexical and semantic retrievers.

The retrieval family has both retriever legs (BM25 lexical search,
exact cosine top-k) but nothing that COMBINES them — and hybrid
retrieval is the production default for RAG/eval harvesting. RRF
(Cormack, Clarke & Buettcher 2009) is the standard parameter-light
fuse: fused(d) = sum over rankers of 1/(C + rank_r(d)), C = 60,
contributions only from each ranker's top-K. Spark: the two K-row
ranked lists full-outer-join on doc id (K-row frames — driver/exchange
cost is rank-list-sized, never corpus-sized; each leg's corpus scan is
the retriever's own one-pass shape), fuse, re-rank. Fixed-point
integer RRF (1e9 DIV (C + rank), BIGINT) keeps the oracle hash-exact —
no cross-row float summation anywhere (the q_pagerank_topk
discipline).

Doc/embedding identity: the synthetic tables align doc_id == vec_id
(TESTDATA.md); the semantic query vector is the embedding of vec_id 0
(deterministic literal), the lexical query the BM25 module's fixed
bag of terms.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import retrieval as R
from ..operators.dedup import cosine
from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

_TERMS = ["spark", "merge", "window"]
_IN = ", ".join(f"'{t}'" for t in _TERMS)
_K = 50  # per-ranker depth
_C = 60  # RRF damping constant
_TOP = 10
_PPB = 1_000_000_000


@register(
    "q_rrf_fusion",
    f"""
    WITH base AS (
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
      WHERE term IN ({_IN}) GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT term,
             LN(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
      FROM dfreq
    ), contrib AS (
      SELECT tf._id,
             idf.idf * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (tf.dl / (SELECT avgdl FROM avg_)))) AS c
      FROM tf JOIN idf ON tf.term = idf.term
    ), lex AS (
      SELECT _id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, _id) AS BIGINT)
               AS lex_rank
      FROM (SELECT _id, ROUND(SUM(c), 6) AS bm25 FROM contrib
            GROUP BY _id)
      QUALIFY lex_rank <= {_K}
    ), qv AS (
      SELECT LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id = 0
    ), sem AS (
      SELECT vec_id AS doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id)
                  AS BIGINT) AS sem_rank
      FROM (
        SELECT e.vec_id,
               ROUND({cos_sql('LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE))', 'q.v')},
                     6) AS cosine
        FROM embeddings e, qv q WHERE e.vec_id != 0)
      QUALIFY sem_rank <= {_K}
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.lex_rank, s.sem_rank,
             CAST(COALESCE({_PPB} // ({_C} + l.lex_rank), 0)
                + COALESCE({_PPB} // ({_C} + s.sem_rank), 0)
               AS BIGINT) AS rrf_ppb
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_ppb,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_ppb DESC, doc_id)
                AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_TOP}
    """,
    doc="hybrid retrieval via reciprocal-rank fusion: BM25 top-K and "
    "exact cosine top-K lists full-outer-joined on doc id (rank-list-"
    "sized frames) and fused with fixed-point 1e9/(60+rank) integer "
    "RRF — no cross-row float summation, so the oracle is hash-exact; "
    "deterministic tiebreaks throughout (score desc, id asc)",
)
def q_rrf_fusion(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    lex = (
        R.bm25_scores(docs, _TERMS, "doc_id", "text", 1.2, 0.75, _K)
        .select("doc_id", F.col("rank").cast("long").alias("lex_rank"))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = (
        emb.where("vec_id = 0")
        .select(_as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    if not qrow:
        # no query vector: the oracle's qv CTE is empty, so its sem leg
        # contributes nothing and fusion degrades to lex-only — mirror
        # that with an empty sem frame instead of crashing (ADVICE r12)
        sem = spark.createDataFrame([], "doc_id long, sem_rank long")
    else:
        qsql = (
            "array(" + ",".join(f"{float(x)!r}D" for x in qrow[0][0]) + ")"
        )
        scored = emb.where("vec_id != 0").select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(_as_double(F.col("embedding")), F.expr(qsql)), 6
            ).alias("cosine"),
        )
        # global top-K via orderBy().limit() — TakeOrderedAndProject
        # keeps per-partition heaps (a bare row_number window with no
        # partition would funnel the whole scored corpus through ONE
        # task — operators/retrieval.py:164); rank over exactly K rows
        topk = scored.orderBy(F.desc("cosine"), F.asc("doc_id")).limit(_K)
        # column-derived constant partition (always 0, survives
        # constant folding): execution-identical for a K-row frame but
        # keeps the single-partition WindowExec warning out of the logs
        wsem = Window.partitionBy(F.col("doc_id") % 1).orderBy(
            F.desc("cosine"), F.asc("doc_id")
        )
        sem = (
            topk.withColumn(
                "sem_rank", F.row_number().over(wsem).cast("long")
            )
            .select("doc_id", "sem_rank")
        )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
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
    # fused is at most 2K rows (two rank lists outer-joined), but keep
    # the same limit-then-rank shape for the final cut anyway
    top = fused.orderBy(F.desc("rrf_ppb"), F.asc("doc_id")).limit(_TOP)
    wf = Window.partitionBy(F.col("doc_id") % 1).orderBy(
        F.desc("rrf_ppb"), F.asc("doc_id")
    )
    return (
        top.withColumn(
            "fused_rank", F.row_number().over(wf).cast("long")
        )
        .select("doc_id", "lex_rank", "sem_rank", "rrf_ppb", "fused_rank")
    )
