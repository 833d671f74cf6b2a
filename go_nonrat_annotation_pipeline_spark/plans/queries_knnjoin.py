"""Bucketed k-NN self-join over `embeddings`.

The all-vectors variant of the query-set ANN rows (sim_*): EVERY vector
gets its top-3 neighbors, with candidates restricted to its LSH
hyperplane bucket — the self-join form used for dedup graphs, diversity
sampling, and retrieval-graph construction. Candidates are a bucket
equi-join (never all pairs); scoring is the exact integer dot on
fixed-point quantized vectors, so ranking is bit-exact cross-engine
with no float discipline.

Scale posture: same-bucket pair count is Σ|bucket|² — the plane count
is the knob that keeps buckets O(1)-sized as N grows (the sizing rule
sim_lsh_ann documents); per-pair work is one 64-term integer dot.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import rproj as RP
from ..operators import similarity as SIM
from ..sources.testdata import load_table
from .registry import register

_PLANES = 6   # 64 buckets; ~8 vecs/bucket at the driver SF
_KNN = 3

_BUCKET_SQL = SIM.sql_hyperplane_bucket(
    "LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))", _PLANES
)


@register(
    "sim_knn_join_bucketed",
    f"""
    WITH base AS (
      SELECT vec_id, {_BUCKET_SQL} AS bucket,
             LIST_TRANSFORM(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * {RP.Q_SCALE})
                           AS BIGINT)) AS q
      FROM embeddings
    ), toks AS (
      SELECT vec_id, bucket,
             UNNEST(GENERATE_SERIES(1, LEN(q))) AS d,
             UNNEST(q) AS x
      FROM base
    ), dots AS (
      SELECT a.vec_id, b.vec_id AS nbr_id,
             CAST(SUM(a.x * b.x) AS BIGINT) AS dot
      FROM toks a JOIN toks b ON a.bucket = b.bucket AND a.d = b.d
      WHERE a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_id, nbr_id, dot, CAST(rn AS BIGINT) AS rank FROM (
      SELECT vec_id, nbr_id, dot,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, nbr_id) AS rn
      FROM dots)
    WHERE rn <= {_KNN}
    """,
    doc="k-NN SELF-join: every vector's top-3 neighbors among its LSH "
    "hyperplane bucket's candidates (bucket equi-join, never all "
    "pairs); exact integer dot ranking, ties on neighbor id — the "
    "dedup-graph / diversity-sampling building block",
)
def sim_knn_join_bucketed(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = embs.select(
        "vec_id",
        SIM.hyperplane_bucket(v, _PLANES).alias("bucket"),
        RP.quantize(F.col("embedding")).alias("q"),
    )
    toks = base.select(
        "vec_id", "bucket", F.posexplode("q").alias("d0", "x")
    ).select("vec_id", "bucket", (F.col("d0") + 1).alias("d"), "x")
    a = toks.select(
        F.col("vec_id").alias("_a"), "bucket", "d", F.col("x").alias("ax")
    )
    b = toks.select(
        F.col("vec_id").alias("_b"), "bucket", "d", F.col("x").alias("bx")
    )
    dots = (
        a.join(b, ["bucket", "d"])
        .where(F.col("_a") != F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.sum(F.col("ax") * F.col("bx")).alias("dot"))
    )
    w = Window.partitionBy("_a").orderBy(F.col("dot").desc(), "_b")
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KNN)
        .select(
            F.col("_a").alias("vec_id"),
            F.col("_b").alias("nbr_id"),
            "dot",
            F.col("rn").cast("long").alias("rank"),
        )
    )
