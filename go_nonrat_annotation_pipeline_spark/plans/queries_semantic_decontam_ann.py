"""ANN-accelerated semantic decontamination.

Twin of ``q_semantic_decontam`` (brute-force N x B gate) with the
per-doc constant cut from B cosines to (k centroid dots + candidates
in probed cells), via the LOSSLESS ball-pruned IVF of
``operators/decontam_ann.py`` — verdict and above-threshold best match
identical to brute force by construction (triangle-inequality cell
bound), so the oracle IS the brute-force SQL. Cells are trained on a
capped-size hash-gate sample of the bench (the exact-pairs sampling
discipline — driver memory O(sample + k) at any bench size); the
bench itself is assigned map-side and its per-cell max residuals
re-aggregated distributively, which keeps the probe bound lossless
under any sample. On clustered benches (the realistic regime) pruning
is near-total; on unclustered data the bound admits all cells and the
plan degrades gracefully to brute force. tools/scale_probe.py's
decontam_ann probe measures both regimes; tests/test_decontam_ann.py
pins exact agreement and that clustered data actually prunes.

Output contract (differs from the brute-force twin deliberately): the
best match (bench_id, cosine) is exposed ONLY for contaminated items —
below threshold the pruned search may not have seen the global argmax
(it provably sees every within-threshold pair), so the honest exact
output is the verdict plus the match that triggered it.
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
# capped-size train collect (operators/decontam_ann.train_sample):
# the driver pulls ~_TRAIN_TARGET bench rows at ANY bench size — the
# exact-pairs sampling discipline ported here (VERDICT r11 Next #7),
# so the gate's driver memory is O(sample + k), never O(bench)
_TRAIN_TARGET = 2000


@register(
    "q_semantic_decontam_ann",
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
    doc="exact ANN twin of the semantic decontamination gate: IVF "
    "cells trained on a capped-size bench sample (driver memory "
    "O(sample + k), never O(bench)), bench assigned map-side with "
    "full-population residual re-aggregation, corpus probes only "
    "cells passing the lossless ball bound (map-side filter, k "
    "folded-in dots/row), exact cosine re-rank on probed candidates "
    "only — verdicts provably equal brute force, so the oracle is the "
    "brute-force SQL",
)
def q_semantic_decontam_ann(spark, sf_dir):
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    bench = emb.where("label = 0").select(
        F.col("vec_id").alias("bench_id"),
        _as_double(F.col("embedding")).alias("vb"),
    )
    corpus = emb.where("label != 0").select(
        "vec_id", _as_double(F.col("embedding")).alias("vc")
    )
    # cells from a capped-size sample of the bench — NEVER a full-bench
    # collect. Exactness is sample-independent: the probe bound below
    # uses residuals re-aggregated over the FULL bench population under
    # the SAME map-side assignment the join uses, so every bench member
    # is inside its cell's ball by construction.
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
    # explode_outer keeps zero-probe corpus rows alive (cell NULL never
    # matches the broadcast side), so ONE groupBy covers hits and clean
    # rows alike — no corpus-scale join-back for the not-contaminated
    # verdicts. Plan: scan -> map-side probe/explode -> broadcast hash
    # join -> one hash aggregate (single shuffle on vec_id).
    cand = (
        corpus.select(
            "vec_id",
            "vc",
            F.explode_outer(
                probe_cells(F.col("vc"), full_cells, _TH_6DP)
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


@register(
    "q_semantic_decontam_ann_report",
    "    WITH "
    + _CTES
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
           CAST(SUM(CASE WHEN cosine >= {_TH_6DP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           MAX(CASE WHEN cosine >= {_TH_6DP} THEN cosine
               END) AS max_hit_cosine
    FROM sdq_best
    """,
    doc="release-gate numbers off the exact-ANN gate: corpus size, "
    "flagged count, hottest CONTAMINATED proximity (the pruned search "
    "provably finds the global max iff it clears the threshold — below "
    "it the honest exact report is NULL, unlike the brute-force twin's "
    "max_cosine)",
)
def q_semantic_decontam_ann_report(spark, sf_dir):
    gate = q_semantic_decontam_ann(spark, sf_dir)
    return gate.agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
        F.sum(F.col("contaminated").cast("long"))
        .cast("long")
        .alias("n_contaminated"),
        F.max("cosine").alias("max_hit_cosine"),
    )
