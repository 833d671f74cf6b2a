"""Arrow-kernel twin of the exact-ANN decontamination gate.

Same lossless ball-pruned plan as ``q_semantic_decontam_ann`` with the
probe's k interpreted higher-order dots per row swapped for ONE Arrow numpy matmul per batch
(``probe_cells(..., kernel=True)`` — the scale setting for k ≳ 16,
the ``sim_ivf_trained_kernel`` twin discipline). Exactness is
kernel-independent: the probe's absolute slack dwarfs any float
reassociation delta between numpy and the JVM fold, so the kernel's
probed set remains a superset of every within-threshold pair and the
downstream re-rank computes the oracle-exact expression cosine either
way — the oracle is the same brute-force SQL. The body mirrors the
twin line-for-line; behavioral deltas are exactly the ``kernel=True``
flag.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.decontam_ann import (
    build_bench_cells,
    probe_cells,
    residual_to_cell,
    train_sample,
)
from ..operators.dedup import cosine
from ..operators.similarity import _as_double, argmax_cell
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .queries_semantic_decontam import _CTES, _TH_6DP

_K_CELLS = 8
_TRAIN_TARGET = 2000


@register(
    "q_semantic_decontam_ann_kernel",
    "    WITH "
    + _CTES
    + f"""
    SELECT c.vec_id,
           COALESCE(b.cosine >= {_TH_6DP}, FALSE) AS contaminated,
           CASE WHEN b.cosine >= {_TH_6DP} THEN b.bench_id
                END AS bench_id,
           CASE WHEN b.cosine >= {_TH_6DP} THEN b.cosine
                END AS cosine
    FROM sdq_corpus c LEFT JOIN sdq_best b USING (vec_id)
    """,
    doc="Arrow-kernel twin of the exact-ANN decontamination gate: the "
    "per-row probe is one numpy matmul per Arrow batch against the "
    "folded centroid matrix instead of k interpreted expression dots "
    "— probed supersets and final verdicts identical by the slack "
    "argument, so the oracle stays the brute-force SQL",
)
def q_semantic_decontam_ann_kernel(spark, sf_dir):
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    bench = emb.where("label = 0").select(
        F.col("vec_id").alias("bench_id"),
        _as_double(F.col("embedding")).alias("vb"),
    )
    corpus = emb.where("label != 0").select(
        "vec_id", _as_double(F.col("embedding")).alias("vc")
    )
    sample_rows = train_sample(
        bench, "bench_id", "vb", target=_TRAIN_TARGET
    )
    _, cells = build_bench_cells(sample_rows, k=_K_CELLS)
    if not cells:
        return corpus.select(
            "vec_id",
            F.lit(False).alias("contaminated"),
            F.lit(None).cast("long").alias("bench_id"),
            F.lit(None).cast("double").alias("cosine"),
        )
    cent_rows = [(cid, cv) for cid, cv, _ in cells]
    bench_cells = bench.select(
        "bench_id",
        "vb",
        argmax_cell(F.col("vb"), cent_rows).alias("cell"),
    ).withColumn(
        "res", residual_to_cell(F.col("vb"), F.col("cell"), cent_rows)
    )
    maxres = {
        r[0]: r[1]
        for r in bench_cells.groupBy("cell")
        .agg(F.max("res").alias("res"))
        .collect()
    }
    full_cells = [
        (cid, cv, float(maxres.get(cid, 0.0))) for cid, cv in cent_rows
    ]
    cand = (
        corpus.select(
            "vec_id",
            "vc",
            F.explode_outer(
                probe_cells(F.col("vc"), full_cells, _TH_6DP, kernel=True)
            ).alias("cell"),
        )
        .join(
            F.broadcast(bench_cells.select("cell", "bench_id", "vb")),
            "cell",
            "left",
        )
        .withColumn("cosine", F.round(cosine(F.col("vc"), F.col("vb")), 6))
    )
    best = cand.groupBy("vec_id").agg(
        F.max(
            F.when(
                F.col("cosine").isNotNull(),
                F.struct(
                    F.col("cosine"), (-F.col("bench_id")).alias("nbid")
                ),
            )
        ).alias("_b")
    )
    hit = F.col("_b.cosine") >= F.lit(_TH_6DP)
    return best.select(
        "vec_id",
        F.coalesce(hit, F.lit(False)).alias("contaminated"),
        F.when(hit, (-F.col("_b.nbid")).cast("long")).alias("bench_id"),
        F.when(hit, F.col("_b.cosine")).alias("cosine"),
    )
