"""Signed random-projection (JL) queries over `embeddings`
(operators/rproj.py).

Everything at the comparison boundary is exact BIGINT: embeddings are
fixed-point quantized (floor(x·10⁶)), projection signs are md5-derived
±1, dot products and checksums are integer sums — both engines compute
bit-identical values with no float discipline needed.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import rproj as RP
from ..sources.testdata import load_table
from .registry import register

_DIM = 64       # embeddings.embedding length (TESTDATA.md)
_K = RP.DEFAULT_K
_Q_MOD = 50     # query set = vec_id % 50 == 0 (scales with the table)
_TOP = 10       # recall@10

_RP_CTES = RP.sql_rproj_ctes(_DIM, _K)

_PROJ_AGG_SQL = f"""
    WITH {_RP_CTES}
    SELECT _id AS vec_id,
           CAST(SUM(ABS(p)) AS BIGINT) AS l1,
           CAST(SUM(p * j) AS BIGINT) AS chk
    FROM rp
    GROUP BY _id
"""


def _proj_agg(proj_long):
    """(vec_id, l1, chk) from the long-form projection — the list-free
    boundary shape (arrays are banned at the driver's hash)."""
    return proj_long.groupBy("vec_id").agg(
        F.sum(F.abs(F.col("p"))).alias("l1"),
        F.sum(F.col("p") * F.col("j")).alias("chk"),
    )


@register(
    "q_random_projection",
    _PROJ_AGG_SQL,
    doc="signed random projection (Achlioptas JL, d=64→k=16) in exact "
    "integer fixed-point: quantize → broadcast ±1 sign matrix → one "
    "hash aggregate; per-vector L1 + position-weighted checksum attest "
    "every projected coordinate (operators/rproj.rproject)",
)
def q_random_projection(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    return _proj_agg(RP.rproject(embs, _DIM, _K))


@register(
    "q_rproj_kernel",
    _PROJ_AGG_SQL,
    doc="Arrow-kernel twin of q_random_projection: per-batch int64 "
    "matmul via mapInPandas (zero shuffles — the 100 TB shape) must "
    "agree bit-for-bit with the expression path and the SQL oracle "
    "(operators/rproj.rproject_kernel)",
)
def q_rproj_kernel(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    wide = RP.rproject_kernel(embs, _DIM, _K)
    long = wide.select(
        "vec_id", F.posexplode("proj").alias("j0", "p")
    ).select("vec_id", (F.col("j0") + 1).alias("j"), "p")
    return _proj_agg(long)


@register(
    "q_rp_ann_recall",
    f"""
    WITH {_RP_CTES}
    , qv AS (
      SELECT vec_id AS _id,
             UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS d,
             UNNEST(LIST_TRANSFORM(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * {RP.Q_SCALE})
                           AS BIGINT))) AS x
      FROM embeddings
    ), odot AS (
      SELECT q._id AS q_id, c._id AS c_id,
             CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      FROM qv q JOIN qv c USING (d)
      WHERE q._id % {_Q_MOD} = 0 AND q._id <> c._id
      GROUP BY q._id, c._id
    ), otop AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY dot DESC, c_id) AS rn
        FROM odot) WHERE rn <= {_TOP}
    ), pdot AS (
      SELECT q._id AS q_id, c._id AS c_id,
             CAST(SUM(q.p * c.p) AS BIGINT) AS dot
      FROM rp q JOIN rp c USING (j)
      WHERE q._id % {_Q_MOD} = 0 AND q._id <> c._id
      GROUP BY q._id, c._id
    ), ptop AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY dot DESC, c_id) AS rn
        FROM pdot) WHERE rn <= {_TOP}
    )
    SELECT o.q_id,
           CAST(COALESCE(SUM(CASE WHEN p.c_id IS NOT NULL
                                  THEN 1 END), 0) AS BIGINT) AS n_overlap
    FROM otop o LEFT JOIN ptop p USING (q_id, c_id)
    GROUP BY o.q_id
    """,
    doc="JL neighborhood preservation, MEASURED (an index-quality "
    "eval, like q_ann_recall): exact top-10 by integer dot on the "
    "64-dim originals vs top-10 on the 16-dim projections. On the "
    "near-isotropic synthetic vectors (top-10 gap ≈ JL noise 1/√k) "
    "recall is low — k=16 keeps ~30% of true top-10 in a 40-deep "
    "shortlist, k=32 ~45% (SCALE.md) — which is exactly what this "
    "eval exists to expose: it sizes k against the REAL embedding "
    "geometry before committing to the 4× cheaper pipeline",
)
def q_rp_ann_recall(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    base = embs.select(
        "vec_id", RP.quantize(F.col("embedding")).alias("q")
    )
    toks = base.select(
        "vec_id", F.posexplode("q").alias("d0", "x")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "x")
    qt = toks.where(F.col("vec_id") % _Q_MOD == 0).select(
        F.col("vec_id").alias("q_id"), "d", F.col("x").alias("qx")
    )
    odot = (
        qt.join(toks.select(F.col("vec_id").alias("c_id"), "d", "x"), "d")
        .where(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("qx") * F.col("x")).alias("dot"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "c_id")
    otop = (
        odot.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP)
        .select("q_id", "c_id")
    )
    proj = RP.rproject(embs, _DIM, _K)
    pq = proj.where(F.col("vec_id") % _Q_MOD == 0).select(
        F.col("vec_id").alias("q_id"), "j", F.col("p").alias("qp")
    )
    pdot = (
        pq.join(
            proj.select(F.col("vec_id").alias("c_id"), "j", "p"), "j"
        )
        .where(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("qp") * F.col("p")).alias("dot"))
    )
    ptop = (
        pdot.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP)
        .select("q_id", "c_id")
    )
    return (
        otop.join(ptop.withColumn("_hit", F.lit(1)), ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.coalesce(F.sum("_hit"), F.lit(0))
            .cast("long")
            .alias("n_overlap")
        )
    )


_SHORTLIST = 40  # projected-dot candidates re-ranked exactly


@register(
    "q_rp_rerank",
    f"""
    WITH {_RP_CTES}
    , qv AS (
      SELECT vec_id AS _id,
             UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS d,
             UNNEST(LIST_TRANSFORM(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * {RP.Q_SCALE})
                           AS BIGINT))) AS x
      FROM embeddings
    ), pdot AS (
      SELECT q._id AS q_id, c._id AS c_id,
             CAST(SUM(q.p * c.p) AS BIGINT) AS pdot
      FROM rp q JOIN rp c USING (j)
      WHERE q._id % {_Q_MOD} = 0 AND q._id <> c._id
      GROUP BY q._id, c._id
    ), shortlist AS (
      SELECT q_id, c_id FROM (
        SELECT q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY pdot DESC, c_id) AS rn
        FROM pdot) WHERE rn <= {_SHORTLIST}
    ), exact AS (
      SELECT s.q_id, s.c_id,
             CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      FROM shortlist s
      JOIN qv q ON q._id = s.q_id
      JOIN qv c ON c._id = s.c_id AND c.d = q.d
      GROUP BY s.q_id, s.c_id
    )
    SELECT q_id, c_id, dot,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT q_id, c_id, dot,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, c_id) AS rn
      FROM exact)
    WHERE rn <= {_TOP}
    """,
    doc="two-stage RP ANN (the PQ-style shortlist-then-rerank shape): "
    "candidates by 16-dim projected integer dot (4x cheaper per "
    "comparison), exact 64-dim re-rank of the 40-deep shortlist only "
    "— final top-10 per query fully hash-attested; exact distance "
    "work drops from N to shortlist-size per query. Re-ranking "
    "recovers exactly what the shortlist retains (q_rp_ann_recall is "
    "the companion eval that sizes k/shortlist for the data)",
)
def q_rp_rerank(spark, sf_dir):
    embs = load_table(spark, sf_dir, "embeddings")
    proj = RP.rproject(embs, _DIM, _K)
    pq = proj.where(F.col("vec_id") % _Q_MOD == 0).select(
        F.col("vec_id").alias("q_id"), "j", F.col("p").alias("qp")
    )
    pdot = (
        pq.join(
            proj.select(F.col("vec_id").alias("c_id"), "j", "p"), "j"
        )
        .where(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("qp") * F.col("p")).alias("pdot"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("pdot").desc(), "c_id")
    shortlist = (
        pdot.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SHORTLIST)
        .select("q_id", "c_id")
    )
    toks = embs.select(
        "vec_id", F.posexplode(RP.quantize(F.col("embedding"))).alias("d0", "x")
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "x")
    qt = toks.select(F.col("vec_id").alias("q_id"), "d", F.col("x").alias("qx"))
    ct = toks.select(F.col("vec_id").alias("c_id"), "d", F.col("x").alias("cx"))
    exact = (
        shortlist.join(qt, "q_id")
        .join(ct, ["c_id", "d"])
        .groupBy("q_id", "c_id")
        .agg(F.sum(F.col("qx") * F.col("cx")).alias("dot"))
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), "c_id")
    return (
        exact.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _TOP)
        .select("q_id", "c_id", "dot", F.col("rn").cast("long").alias("rank"))
    )
