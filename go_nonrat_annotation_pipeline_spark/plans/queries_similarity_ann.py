"""Baseline/scale-path ANN queries over `embeddings` (brute-force,
single-table LSH, sampled-centroid IVF, multi-table LSH).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as S
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import COS as _COS


# ---------------------------------------------------------------------------
# brute-force cosine top-k (exact ANN baseline)
# ---------------------------------------------------------------------------
@register(
    "sim_topk_bruteforce",
    f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_COS}, 6) AS cosine
      FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 10
    """,
    doc="similarity: exact brute-force cosine top-10 for 5 query vectors",
)
def sim_topk_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.brute_force_topk(emb, queries, "vec_id", "embedding", 10)


# ---------------------------------------------------------------------------
# LSH-bucketed approximate top-k (the scale path)
# ---------------------------------------------------------------------------
@register(
    "sim_lsh_ann",
    f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, v, {S.sql_hyperplane_bucket('v', 4)} AS bucket FROM e
    ), scored AS (
      SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS neighbor_id,
             ROUND({_COS}, 6) AS cosine
      FROM bucketed q JOIN bucketed c
        ON q.bucket = c.bucket AND q.vec_id < 5 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, bucket, neighbor_id, cosine, rank FROM (
      SELECT query_id, bucket, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="similarity: random-hyperplane LSH bucketed ANN top-5",
)
def sim_lsh_ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.lsh_ann_topk(emb, queries, "vec_id", "embedding", 5, 4, 64)


# ---------------------------------------------------------------------------
# IVF-cell approximate top-k (the other scale path: broadcast centroids,
# map-side cell assignment, probe-limited candidate join)
# ---------------------------------------------------------------------------
_CENTS = 16
_PROBE = 2


@register(
    "sim_ivf_ann",
    f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_CENTS}
    ), assigned AS (
      SELECT vec_id AS neighbor_id, v, cell FROM (
        SELECT c.vec_id, c.v, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM e c, LATERAL (
          SELECT cent_id,
                 LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                     LIST_TRANSFORM(GENERATE_SERIES(1, LEN(c.v)),
                                    i -> LIST_EXTRACT(c.v, i) * LIST_EXTRACT(cv, i))),
                     (acc, x) -> acc + x)
                 / (SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                        LIST_TRANSFORM(c.v, x -> x * x)), (acc, x) -> acc + x))
                  * SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                        LIST_TRANSFORM(cv, x -> x * x)), (acc, x) -> acc + x))) AS cos
          FROM cents) t)
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, vq, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS vq, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM (SELECT * FROM e WHERE vec_id < 5) q, LATERAL (
          SELECT cent_id,
                 LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                     LIST_TRANSFORM(GENERATE_SERIES(1, LEN(q.v)),
                                    i -> LIST_EXTRACT(q.v, i) * LIST_EXTRACT(cv, i))),
                     (acc, x) -> acc + x)
                 / (SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                        LIST_TRANSFORM(q.v, x -> x * x)), (acc, x) -> acc + x))
                  * SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                        LIST_TRANSFORM(cv, x -> x * x)), (acc, x) -> acc + x))) AS cos
          FROM cents) t)
      WHERE rn <= {_PROBE}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             ROUND(
               LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                   LIST_TRANSFORM(GENERATE_SERIES(1, LEN(p.vq)),
                                  i -> LIST_EXTRACT(p.vq, i) * LIST_EXTRACT(a.v, i))),
                   (acc, x) -> acc + x)
               / (SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                      LIST_TRANSFORM(p.vq, x -> x * x)), (acc, x) -> acc + x))
                * SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                      LIST_TRANSFORM(a.v, x -> x * x)), (acc, x) -> acc + x))), 6) AS cosine
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE p.query_id <> a.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="similarity: IVF-cell ANN top-5 (deterministic centroid sample)",
)
def sim_ivf_ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.ivf_topk(emb, queries, "vec_id", "embedding", 5, _CENTS, _PROBE)


# ---------------------------------------------------------------------------
# Multi-table (OR-amplified) LSH ANN — recall booster: candidate iff the
# pair collides in ANY of the L independent hash tables
# ---------------------------------------------------------------------------
_MT_PLANES = 4
_MT_TABLES = 8
_MT_BUCKETS = ",\n             ".join(
    f"{S.sql_hyperplane_bucket('v', _MT_PLANES, 64, t * _MT_PLANES)} AS b{t}"
    for t in range(_MT_TABLES)
)
_MT_UNION = "\n      UNION\n".join(
    f"      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
    f"      FROM bucketed q JOIN bucketed c ON q.b{t} = c.b{t}\n"
    f"        AND q.vec_id < 5 AND q.vec_id <> c.vec_id"
    for t in range(_MT_TABLES)
)


@register(
    "sim_lsh_multitable",
    f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), bucketed AS (
      SELECT vec_id, v,
             {_MT_BUCKETS}
      FROM e
    ), cand AS (
{_MT_UNION}
    ), scored AS (
      SELECT p.query_id, p.neighbor_id, ROUND({_COS}, 6) AS cosine
      FROM cand p
      JOIN e q ON q.vec_id = p.query_id
      JOIN e c ON c.vec_id = p.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="similarity: OR-amplified LSH ANN top-5 (4 planes × 8 tables)",
)
def sim_lsh_multitable(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return S.lsh_multitable_topk(
        emb, queries, "vec_id", "embedding", 5, _MT_PLANES, _MT_TABLES
    )


