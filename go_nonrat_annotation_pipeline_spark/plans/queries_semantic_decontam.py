"""Semantic (embedding-space) benchmark decontamination.

The n-gram gate (plans/queries_decontam.py) catches verbatim and
near-verbatim eval leakage; paraphrased leakage needs the embedding
twin (the practice popularized by GPT-4/Llama-3 era decontamination and
the SemDeDup-style pipeline): flag any training item whose embedding
sits within a cosine threshold of ANY benchmark item's embedding.

Spark-first shape mirrors the text gate's production asymmetry: the
benchmark side is SMALL and FIXED (eval suites don't grow with the
corpus) → broadcast it; the corpus side is one map (per-pair cosine
against the broadcast bench) plus ONE per-item max aggregate
(map-side-combinable struct max — no window exchange). Determinism:
cosine is the sequential JVM reduce rounded to 6dp (the attested
sim_topk discipline); best-match tiebreak is (cosine desc, bench id
asc) via struct max on (cosine, -bench_id).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import cosine
from ..operators.similarity import _as_double
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

# label 0 is the benchmark suite; the threshold is the declared
# paraphrase radius (synthetic embeddings sit lower than real-text
# encoders, where ~0.95 is typical — the knob, not the mechanism)
_TH_6DP = 0.35

_CTES = f"""
    sdq_bench AS (
      SELECT vec_id AS bench_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS vb
      FROM embeddings WHERE label = 0
    ), sdq_corpus AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS vc
      FROM embeddings WHERE label != 0
    ), sdq_scored AS (
      SELECT c.vec_id, b.bench_id,
             ROUND({cos_sql('c.vc', 'b.vb')}, 6) AS cosine
      FROM sdq_corpus c, sdq_bench b
    ), sdq_best AS (
      SELECT vec_id, bench_id, cosine FROM (
        SELECT vec_id, bench_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, bench_id ASC) AS rn
        FROM sdq_scored)
      WHERE rn = 1
    )"""


def _best(spark, sf_dir):
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    bench = emb.where("label = 0").select(
        F.col("vec_id").alias("bench_id"),
        _as_double(F.col("embedding")).alias("vb"),
    )
    corpus = emb.where("label != 0").select(
        "vec_id", _as_double(F.col("embedding")).alias("vc")
    )
    scored = corpus.crossJoin(F.broadcast(bench)).withColumn(
        "cosine", F.round(cosine(F.col("vc"), F.col("vb")), 6)
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosine"), (-F.col("bench_id")).alias("nbid")
                )
            ).alias("_b")
        )
        .select(
            "vec_id",
            (-F.col("_b.nbid")).cast("long").alias("bench_id"),
            F.col("_b.cosine").alias("cosine"),
        )
    )


@register(
    "q_semantic_decontam",
    "    WITH "
    + _CTES
    + f"""
    SELECT vec_id, bench_id, cosine,
           (cosine >= {_TH_6DP}) AS contaminated
    FROM sdq_best
    """,
    doc="semantic decontamination: per corpus embedding, the nearest "
    "benchmark embedding by 6dp-rounded cosine (broadcast bench side, "
    "map + one struct-max aggregate — no window exchange) and the "
    "threshold verdict; the paraphrase-leakage twin of the n-gram gate",
)
def q_semantic_decontam(spark, sf_dir):
    best = _best(spark, sf_dir)
    return best.select(
        "vec_id",
        "bench_id",
        "cosine",
        (F.col("cosine") >= F.lit(_TH_6DP)).alias("contaminated"),
    )


@register(
    "q_semantic_decontam_report",
    "    WITH "
    + _CTES
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
           CAST(SUM(CASE WHEN cosine >= {_TH_6DP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           MAX(cosine) AS max_cosine
    FROM sdq_best
    """,
    doc="semantic decontamination audit: corpus size, flagged count at "
    "the declared radius, and the hottest benchmark proximity — the "
    "release-gate number a training run reports next to the n-gram "
    "gate's",
)
def q_semantic_decontam_report(spark, sf_dir):
    best = _best(spark, sf_dir)
    return best.agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
        F.sum(F.when(F.col("cosine") >= _TH_6DP, 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.max("cosine").alias("max_cosine"),
    )
