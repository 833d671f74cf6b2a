"""ANN index-quality evaluation (recall@k).

The operational question every ANN deployment asks: how much recall
does the bucketing give up, and does OR-amplification buy it back?
recall@k = |approx top-k ∩ exact top-k| / k per query, for the
single-table LSH (4 hyperplanes) and the multi-table OR-amplified form
(4 planes × 8 tables) against the brute-force baseline — all three
already oracle-attested operators (plans/queries_similarity_ann.py).

Scale posture: the eval reuses each index's own candidate path (bucket
equi-joins), the exact baseline runs only over the EVAL QUERY SAMPLE
(20 queries × corpus map-side argmax — at 100 TB you recall-check a
sample, never the corpus), and the intersection is a k-row-per-query
join. Fixed-point recall (hits·1000 div k) keeps the boundary BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as S
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import COS as _COS

_K = 5
_NQ = 20
_PLANES = 4
_TABLES = 8

_MT_BUCKETS = ",\n             ".join(
    f"{S.sql_hyperplane_bucket('v', _PLANES, 64, t * _PLANES)} AS b{t}"
    for t in range(_TABLES)
)
_MT_UNION = "\n      UNION\n".join(
    f"      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
    f"      FROM bucketed q JOIN bucketed c ON q.b{t} = c.b{t}\n"
    f"        AND q.vec_id < {_NQ} AND q.vec_id <> c.vec_id"
    for t in range(_TABLES)
)


@register(
    "q_ann_recall",
    f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY ROUND({_COS}, 6) DESC, c.vec_id)
                 AS rank
        FROM e q JOIN e c ON q.vec_id < {_NQ} AND q.vec_id <> c.vec_id)
      WHERE rank <= {_K}
    ), bucketed AS (
      SELECT vec_id, v,
             {S.sql_hyperplane_bucket('v', _PLANES)} AS b,
             {_MT_BUCKETS}
      FROM e
    ), lsh1 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY ROUND({_COS}, 6) DESC, c.vec_id)
                 AS rank
        FROM bucketed q JOIN bucketed c
          ON q.b = c.b AND q.vec_id < {_NQ} AND q.vec_id <> c.vec_id)
      WHERE rank <= {_K}
    ), lshN AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, p.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                                  ORDER BY ROUND({_COS}, 6) DESC,
                                           p.neighbor_id) AS rank
        FROM (
{_MT_UNION}
        ) p
        JOIN e q ON q.vec_id = p.query_id
        JOIN e c ON c.vec_id = p.neighbor_id)
      WHERE rank <= {_K}
    ), h1 AS (
      SELECT b.query_id, COUNT(l.neighbor_id) AS hits
      FROM brute b LEFT JOIN lsh1 l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
      GROUP BY b.query_id
    ), hN AS (
      SELECT b.query_id, COUNT(l.neighbor_id) AS hits
      FROM brute b LEFT JOIN lshN l
        ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
      GROUP BY b.query_id
    )
    SELECT query_id, 'lsh1' AS method, CAST(hits AS BIGINT) AS hits,
           hits * 1000 // {_K} AS recall_permille
    FROM h1
    UNION ALL
    SELECT query_id, 'lshN' AS method, CAST(hits AS BIGINT) AS hits,
           hits * 1000 // {_K} AS recall_permille
    FROM hN
    """,
    doc=f"ANN recall@{_K} per query vs the exact baseline, single-table "
    f"LSH vs {_TABLES}-table OR-amplified — the index-quality report an "
    "ANN deployment runs on a query sample (operators/similarity; "
    "brute baseline bounded to the sample)",
)
def q_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _NQ)
    brute = S.brute_force_topk(emb, queries, "vec_id", "embedding", _K).select(
        "query_id", "neighbor_id"
    )
    approx = {
        "lsh1": S.lsh_ann_topk(
            emb, queries, "vec_id", "embedding", _K, _PLANES, 64
        ),
        "lshN": S.lsh_multitable_topk(
            emb, queries, "vec_id", "embedding", _K, _PLANES, _TABLES
        ),
    }
    allq = brute.select("query_id").distinct()
    outs = []
    for method, df in approx.items():
        inter = (
            brute.join(
                df.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
            )
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        outs.append(
            allq.join(inter, "query_id", "left")
            .select(
                "query_id",
                F.lit(method).alias("method"),
                F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
            )
            .withColumn("recall_permille", F.expr(f"hits * 1000 DIV {_K}"))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
