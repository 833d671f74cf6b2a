"""Exact top-k cosine join via lossless cell bounds.

The similarity family's exact members so far answer threshold
questions (exact pairs, exact decontam gate); retrieval wants TOP-K —
"the k nearest benchmark items per corpus row", with no threshold to
tune. ``sim_topk_bruteforce`` is the N x B baseline; the approximate
ANN rows (LSH/IVF/PQ) trade recall. This is the exact accelerated
member (operators/knn_exact.py): a seed pass over the nearest cells
by occupancy gives each row a k-th-best lower bound; a prune pass
probes only cells whose spherical-cap upper bound clears it. Both
passes are map-side expressions over folded literals + one broadcast
hash join each; the only shuffle is one hash aggregate per pass on
vec_id. The rounded, id-tiebroken top-k equals brute force on ANY
data (bound + slack argument in the operator doc), so the oracle is
the brute-force window SQL.

At 100 TB: corpus-side linear, bench-side dictionary-sized (the
decontam contract); per-row cost is 2k centroid dots + candidates in
seeded/probed cells — clustered benches prune toward k candidates,
unclustered ones degrade to brute force plus the dots, exactness
unaffected (the test SF's unclustered embeddings run that regime and
still PASS, which is the point).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.decontam_ann import build_bench_cells
from ..operators.dedup import cosine
from ..operators.knn_kernel import driver_train_sample, topk_candidate_ids
from ..operators.similarity import _as_double
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .queries_semantic_decontam import _CTES

_K_CELLS = 8
_TRAIN_TARGET = 2000
_TOPK = 5


@register(
    "sim_knn_exact_cells",
    "    WITH "
    + _CTES
    + f"""
    SELECT vec_id, CAST(rn AS BIGINT) AS rank, bench_id, cosine FROM (
      SELECT vec_id, bench_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, bench_id ASC) AS rn
      FROM sdq_scored)
    WHERE rn <= {_TOPK}
    """,
    doc="exact top-k cosine join accelerated by lossless cell bounds: "
    "seed pass (nearest cells to cumulative occupancy k) lower-bounds "
    "each row's k-th best, prune pass probes only cells whose "
    "spherical-cap upper bound clears it — rounded id-tiebroken top-k "
    "provably equals brute force, so the oracle is the brute-force "
    "window SQL",
)
def sim_knn_exact_cells(spark, sf_dir):
    # r13 optimization: the two passes (seed + prune) now run inside
    # ONE Arrow kernel per batch (operators/knn_kernel.topk_candidate_ids
    # — same cell bounds, float64 numpy) which emits a provable
    # SUPERSET of each row's exact top-k; only those candidates are
    # re-scored with the oracle-exact expression cosine and ranked.
    # The earlier explode + broadcast-join form evaluated the
    # interpreted 64-step cosine fold on every candidate (the full
    # N×B = 358k pairs at sf0.1 in the unclustered degrade-to-brute
    # regime) and shuffled them all into the rank window; the kernel
    # emits ~k+ties per row, so the exact folds and the window
    # shuffle shrink ~30× (guide §4.2, §2.3). Exactness argument in
    # the operator module doc; the bench side is collected ONCE (it
    # is dictionary-sized by contract and was already shipped whole
    # as the broadcast join side).
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    bench_rows = [
        (int(r[0]), list(r[1]))
        for r in emb.where("label = 0")
        .select("vec_id", _as_double(F.col("embedding")).alias("vb"))
        .collect()
    ]
    corpus = emb.where("label != 0").select(
        "vec_id", _as_double(F.col("embedding")).alias("vc")
    )
    if not bench_rows:
        return spark.createDataFrame(
            [], "vec_id long, rank long, bench_id long, cosine double"
        )
    # capped train sample (the round-12 sampling discipline), applied
    # driver-side to the already-collected dictionary-sized bench
    sample_rows = driver_train_sample(bench_rows, target=_TRAIN_TARGET)
    _, cells = build_bench_cells(sample_rows, k=_K_CELLS)
    bench_b = spark.createDataFrame(
        bench_rows, "bench_id long, vb array<double>"
    )
    cand = topk_candidate_ids(
        spark, F.col("vc"), bench_rows, cells, _TOPK
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("bench_id")
    )
    return (
        corpus.select("vec_id", "vc", F.explode(cand).alias("bench_id"))
        .join(F.broadcast(bench_b), "bench_id")
        .withColumn("cosine", F.round(cosine(F.col("vc"), F.col("vb")), 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select("vec_id", "rank", "bench_id", "cosine")
    )
