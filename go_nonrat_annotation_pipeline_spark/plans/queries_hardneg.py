"""Hard-negative mining over `embeddings`.

The contrastive-training-data op: for every anchor vector, the top-k
most-similar vectors with a DIFFERENT label — the "hard negatives"
that make contrastive / metric-learning batches informative (easy
negatives are already far; the near-but-wrong ones carry the
gradient signal). Same scale shape as ``sim_knn_join_bucketed``
(whose module is imported, not copied): candidates restricted to the
anchor's LSH hyperplane bucket (bucket equi-join, never all pairs),
exact integer dot on fixed-point quantized vectors, per-anchor top-k
window partitioned by the anchor id — plus the one predicate that
changes the semantics, ``label mismatch on the pair``, applied
BEFORE the dot aggregate so mismatched-label candidates are the only
pairs ever scored.

Scale posture: identical to the k-NN self-join (Σ|bucket|² candidate
pairs, plane count the sizing knob) — the label filter only shrinks
it. At 100 TB the label skew matters: if one class dominates, its
anchors see near-full buckets; the mitigation is the same plane-count
knob, since bucket size, not class mix, bounds the pair fan-out.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import rproj as RP
from ..sources.testdata import load_table
from .queries_knnjoin import _BUCKET_SQL, _PLANES
from .registry import register

_NEG_K = 3


@register(
    "q_hard_negatives",
    f"""
    WITH base AS (
      SELECT vec_id, label, {_BUCKET_SQL} AS bucket,
             LIST_TRANSFORM(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * {RP.Q_SCALE})
                           AS BIGINT)) AS q
      FROM embeddings
    ), toks AS (
      SELECT vec_id, label, bucket,
             UNNEST(GENERATE_SERIES(1, LEN(q))) AS d,
             UNNEST(q) AS x
      FROM base
    ), dots AS (
      SELECT a.vec_id, a.label AS anchor_label,
             b.vec_id AS neg_id, b.label AS neg_label,
             CAST(SUM(a.x * b.x) AS BIGINT) AS dot
      FROM toks a JOIN toks b ON a.bucket = b.bucket AND a.d = b.d
      WHERE a.label <> b.label
      GROUP BY a.vec_id, a.label, b.vec_id, b.label
    )
    SELECT vec_id, CAST(anchor_label AS BIGINT) AS anchor_label,
           neg_id, CAST(neg_label AS BIGINT) AS neg_label,
           dot, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT vec_id, anchor_label, neg_id, neg_label, dot,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, neg_id) AS rn
      FROM dots)
    WHERE rn <= {_NEG_K}
    """,
    doc="hard-negative mining: per-anchor top-3 most-similar "
    "DIFFERENT-label vectors from the anchor's LSH bucket (bucket "
    "equi-join with the label-mismatch predicate before the dot "
    "aggregate — never all pairs); exact integer dot ranking, "
    "neighbor-id tiebreak — the contrastive-batch construction "
    "building block",
)
def q_hard_negatives(spark, sf_dir):
    from ..operators import similarity as SIM

    embs = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = embs.select(
        "vec_id",
        "label",
        SIM.hyperplane_bucket(v, _PLANES).alias("bucket"),
        RP.quantize(F.col("embedding")).alias("q"),
    )
    # r13 optimization (guide §2.3 shuffle fewer bytes): the dot used
    # to be built from a 64×-exploded token join — every candidate
    # pair shuffled 64 (bucket, d) rows into a pair-keyed hash
    # aggregate. Joining the un-exploded rows on the bucket alone and
    # folding the dot with zip_with/aggregate keeps the join input at
    # one row per vector and removes the pair-keyed aggregate
    # entirely; integer products sum exactly in any order, so the dot
    # is value-identical to the grouped SUM the oracle computes.
    a = base.select(
        F.col("vec_id").alias("_a"),
        F.col("label").alias("_al"),
        "bucket",
        F.col("q").alias("qa"),
    )
    b = base.select(
        F.col("vec_id").alias("_b"),
        F.col("label").alias("_bl"),
        "bucket",
        F.col("q").alias("qb"),
    )
    dots = (
        a.join(b, ["bucket"])
        .where(F.col("_al") != F.col("_bl"))
        .select(
            "_a",
            "_al",
            "_b",
            "_bl",
            F.aggregate(
                F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, p: acc + p,
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("_a").orderBy(F.col("dot").desc(), "_b")
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _NEG_K)
        .select(
            F.col("_a").alias("vec_id"),
            F.col("_al").cast("long").alias("anchor_label"),
            F.col("_b").alias("neg_id"),
            F.col("_bl").cast("long").alias("neg_label"),
            "dot",
            F.col("rn").cast("long").alias("rank"),
        )
    )
