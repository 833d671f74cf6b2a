"""Maximal Marginal Relevance diversification.

Retrieval returns the k most RELEVANT items; dedup removes the
near-identical; MMR (Carbonell & Goldstein 1998) is the op between
them — select k items that are relevant AND mutually diverse:
greedily pick argmax over the remaining pool of
lambda * rel(d) - (1 - lambda) * max_{s in selected} sim(d, s).

Spark-first shape: the candidate POOL is built distributively (top-P
by cosine to the query vector via orderBy().limit — per-partition
TakeOrdered heaps, never a single-partition corpus sort);
the greedy loop then runs k bounded steps, each ONE map over the
remaining pool (selected vectors folded in as literals, exactly the
argmax_cell discipline) plus a 1-row TakeOrdered collect — at any
corpus size the driver sees k rows plus the pool head, never the
corpus. All arithmetic is fixed-point ppm BIGINT (rel and sim are
6dp-rounded cosines scaled to integers; lambda = 0.7 enters as
7*rel - 3*maxsim, a x10-scaled integer score), so both engines
compute bit-identical selections and the oracle — the same 5 greedy
steps UNROLLED as chained CTEs, the kmeans-oracle discipline — is
hash-exact. Deterministic tiebreak everywhere: score desc, doc id asc.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import cosine
from ..operators.similarity import _as_double
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

_POOL = 20
_K = 5
# lambda = 0.7 -> integer score 7*rel_ppm - 3*maxsim_ppm (x10 scaled)
_LNUM, _LDEN = 7, 3


def _sim_ppm_sql(a: str, b: str) -> str:
    return f"CAST(ROUND({cos_sql(a, b)} * 1000000) AS BIGINT)"


def _oracle() -> str:
    # pool: top-_POOL corpus embeddings by relevance to vec 0
    sql = f"""
    WITH mmr_q AS (
      SELECT LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id = 0
    ),
    mmr_pool AS (
      SELECT vec_id AS doc_id, v, rel_ppm FROM (
        SELECT e.vec_id,
               LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
               {_sim_ppm_sql("LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE))", "q.v")}
                 AS rel_ppm
        FROM embeddings e, mmr_q q WHERE e.vec_id != 0)
      QUALIFY ROW_NUMBER() OVER (ORDER BY rel_ppm DESC, vec_id) <= {_POOL}
    ),
    sel1 AS (
      SELECT 1 AS sel_rank, doc_id, v, rel_ppm,
             CAST({_LNUM} * rel_ppm AS BIGINT) AS mmr_score_sppm
      FROM mmr_pool
      ORDER BY rel_ppm DESC, doc_id LIMIT 1
    )"""
    prev_sel = "sel1"
    union = "SELECT sel_rank, doc_id, rel_ppm, mmr_score_sppm FROM sel1"
    for i in range(2, _K + 1):
        # remaining pool x all previously selected -> per-doc max sim
        sql += f""",
    seln{i} AS (
      SELECT sel_rank, doc_id, v FROM sel1
      {"".join(f" UNION ALL SELECT sel_rank, doc_id, v FROM sel{j}" for j in range(2, i))}
    ),
    cand{i} AS (
      SELECT p.doc_id, p.v, p.rel_ppm,
             MAX({_sim_ppm_sql("p.v", "s.v")}) AS maxsim_ppm
      FROM mmr_pool p, seln{i} s
      WHERE p.doc_id NOT IN (SELECT doc_id FROM seln{i})
      GROUP BY p.doc_id, p.v, p.rel_ppm
    ),
    sel{i} AS (
      SELECT {i} AS sel_rank, doc_id, v, rel_ppm,
             CAST({_LNUM} * rel_ppm - {_LDEN} * maxsim_ppm AS BIGINT)
               AS mmr_score_sppm
      FROM cand{i}
      ORDER BY mmr_score_sppm DESC, doc_id LIMIT 1
    )"""
        union += (
            f" UNION ALL SELECT sel_rank, doc_id, rel_ppm, "
            f"mmr_score_sppm FROM sel{i}"
        )
        prev_sel = f"sel{i}"
    sql += f"""
    SELECT CAST(sel_rank AS BIGINT) AS sel_rank, doc_id, rel_ppm,
           mmr_score_sppm
    FROM ({union})
    """
    return sql


def _sim_ppm(col, lit_arr):
    return F.round(cosine(col, lit_arr) * F.lit(1_000_000.0)).cast(
        "long"
    )


@register(
    "q_mmr_rerank",
    _oracle(),
    doc="MMR diversification over the cosine top-P pool: k greedy "
    "steps, each one map over the remaining pool (selected vectors "
    "folded as literals) + a 1-row TakeOrdered — fixed-point ppm "
    "integer scores make the selection bit-identical on both engines; "
    "the oracle unrolls the same k steps as chained CTEs",
)
def q_mmr_rerank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    _SCHEMA = "sel_rank long, doc_id long, rel_ppm long, mmr_score_sppm long"
    qrow = (
        emb.where("vec_id = 0")
        .select(_as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    if not qrow:
        # no query vector: every oracle CTE derives from mmr_q, so the
        # oracle returns zero rows — mirror that instead of crashing on
        # qrow[0][0] (ADVICE r12)
        return spark.createDataFrame([], _SCHEMA)
    qsql = "array(" + ",".join(f"{float(x)!r}D" for x in qrow[0][0]) + ")"
    # pool = global top-P via orderBy().limit() — TakeOrderedAndProject
    # keeps per-partition heaps; a bare row_number window with no
    # partition would funnel the whole scored corpus through ONE task
    # (operators/retrieval.py:164)
    pool = (
        emb.where("vec_id != 0")
        .select(
            F.col("vec_id").alias("doc_id"),
            _as_double(F.col("embedding")).alias("v"),
        )
        .withColumn("rel_ppm", _sim_ppm(F.col("v"), F.expr(qsql)))
        .orderBy(F.desc("rel_ppm"), F.asc("doc_id"))
        .limit(_POOL)
        .localCheckpoint()
    )
    selected: list[tuple[int, int, int, int]] = []  # rank, id, rel, score
    sel_vec_sql: list[str] = []
    remaining = pool
    for step in range(1, _K + 1):
        if sel_vec_sql:
            maxsim = F.greatest(
                *[
                    _sim_ppm(F.col("v"), F.expr(s))
                    for s in sel_vec_sql
                ]
            ) if len(sel_vec_sql) > 1 else _sim_ppm(
                F.col("v"), F.expr(sel_vec_sql[0])
            )
            score = (
                F.lit(_LNUM) * F.col("rel_ppm") - F.lit(_LDEN) * maxsim
            ).cast("long")
        else:
            score = (F.lit(_LNUM) * F.col("rel_ppm")).cast("long")
        pick = (
            remaining.withColumn("mmr_score_sppm", score)
            .orderBy(F.desc("mmr_score_sppm"), F.asc("doc_id"))
            .limit(1)
            .collect()
        )
        if not pick:
            break
        r = pick[0]
        selected.append(
            (step, int(r.doc_id), int(r.rel_ppm), int(r.mmr_score_sppm))
        )
        sel_vec_sql.append(
            "array(" + ",".join(f"{float(x)!r}D" for x in r.v) + ")"
        )
        remaining = remaining.where(F.col("doc_id") != int(r.doc_id))
    return spark.createDataFrame(selected, _SCHEMA)
