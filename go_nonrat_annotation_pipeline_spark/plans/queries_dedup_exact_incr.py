"""Incremental exact near-dup pair maintenance.

At 100 TB the corpus GROWS; re-running the exact pair self-join over
everything per ingest is quadratic history. Insert-only maintenance of
the exact pair set is cheap because every ingredient of the lossless
cell machinery is insert-monotone:

- cell assignment is per-row (map-side, no history);
- per-cell max residual only GROWS under inserts — maintained by one
  max-aggregate over the NEW batch merged driver-side (k numbers);
- the compatibility table is k^2 driver arithmetic off those maxima;
- and the pair-set delta is exactly the pairs touching a new row:
  (ALL x NEW, id_a < id_b)  — the larger id is new (new-new and
                              old-new with the new id larger)
  UNION (NEW x OLD, id_a < id_b) — the new id is smaller.
  The two legs are disjoint by the b-side's batch and cover every
  pair with >= 1 new endpoint exactly once — no dedup pass needed.

The registered query replays a two-batch history (deterministic crc32
split of the embeddings table), maintains residuals across the insert,
and unions the initial store with the delta; the oracle is the same
brute-force all-pairs SQL as the one-shot query — maintenance is
invisible to the result by construction. Cells are trained on batch
1's capped sample ONLY (the production setting: you never retrain on
ingest), which exercises the "bound stays exact under any cells"
property on data the cells never saw.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.decontam_ann import (
    build_bench_cells,
    compatible_cell_pairs,
    pair_radius,
    residual_to_cell,
    train_sample,
)
from ..operators.dedup import cosine
from ..operators.similarity import _as_double, argmax_cell
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql

_TH = 0.4
_K = 8
_TRAIN_TARGET = 2000
# deterministic ingest split: ~1/3 of rows arrive in batch 2
_NEW_GATE = "crc32(CAST(vec_id AS STRING)) % 3 = 0"


def _pairs(spark, a, b, full_cells):
    """Exact pairs between frames ``a`` and ``b`` (id_a < id_b) through
    the compatibility table, with the per-row residual tightening."""
    compat = spark.createDataFrame(
        compatible_cell_pairs(full_cells, _TH, with_dist=True),
        "ca long, cb long, dctr double",
    )
    left = a.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("v").alias("va"),
        F.col("cell").alias("ca"),
        F.col("res").alias("res_a"),
    )
    right = b.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("v").alias("vb"),
        F.col("cell").alias("cb"),
        F.col("res").alias("res_b"),
    )
    out = (
        left.join(F.broadcast(compat), "ca")
        .join(right, "cb")
        .where(F.col("vec_id_a") < F.col("vec_id_b"))
    )
    return (
        out.where(
            F.col("dctr")
            <= F.col("res_a")
            + F.lit(pair_radius(_TH) + 1e-6)
            + F.col("res_b")
        )
        .withColumn(
            "cosine", F.round(cosine(F.col("va"), F.col("vb")), 6)
        )
        .where(F.col("cosine") >= F.lit(_TH))
        .select("vec_id_a", "vec_id_b", "cosine")
    )


@register(
    "dedup_exact_pairs_incremental",
    f"""
    WITH dec_v AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id_a, vec_id_b, cosine FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             ROUND({cos_sql('a.v', 'b.v')}, 6) AS cosine
      FROM dec_v a JOIN dec_v b ON a.vec_id < b.vec_id)
    WHERE cosine >= {_TH}
    """,
    doc="insert-only maintenance of the exact cosine pair set: batch-2 "
    "rows assign map-side into batch-1's cells, per-cell max residuals "
    "merge monotonically (k numbers), and the delta join touches only "
    "pairs with a new endpoint (two disjoint compat-cell legs) — the "
    "maintained store provably equals the one-shot join, so the oracle "
    "is the same brute-force all-pairs SQL",
)
def dedup_exact_pairs_incremental(spark, sf_dir):
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    old = vecs.where(f"NOT ({_NEW_GATE})")
    new = vecs.where(_NEW_GATE)
    # cells from batch 1 only — never retrained on ingest
    sample_rows = train_sample(old, "vec_id", "v", target=_TRAIN_TARGET)
    _, cells = build_bench_cells(sample_rows, k=_K)
    if not cells:
        # batch 1 empty: the "increment" is the whole corpus — fall
        # back to training on it (first-ingest bootstrap)
        sample_rows = train_sample(
            new, "vec_id", "v", target=_TRAIN_TARGET
        )
        _, cells = build_bench_cells(sample_rows, k=_K)
    if not cells:
        return spark.createDataFrame(
            [], "vec_id_a long, vec_id_b long, cosine double"
        )
    cent_rows = [(cid, cv) for cid, cv, _ in cells]

    def assigned(df):
        return df.select(
            "vec_id",
            "v",
            argmax_cell(F.col("v"), cent_rows).alias("cell"),
        ).withColumn(
            "res",
            residual_to_cell(F.col("v"), F.col("cell"), cent_rows),
        ).localCheckpoint(eager=False)

    a_old, a_new = assigned(old), assigned(new)

    def maxres(df):
        return {
            r[0]: r[1]
            for r in df.groupBy("cell")
            .agg(F.max("res").alias("res"))
            .collect()
        }

    res_old = maxres(a_old)
    # monotone merge: k numbers, no re-scan of batch 1
    res_all = dict(res_old)
    for c, r in maxres(a_new).items():
        res_all[c] = max(res_all.get(c, 0.0), r)
    cells_t1 = [
        (cid, cv, float(res_old.get(cid, 0.0))) for cid, cv in cent_rows
    ]
    cells_t2 = [
        (cid, cv, float(res_all.get(cid, 0.0))) for cid, cv in cent_rows
    ]
    store_t1 = _pairs(spark, a_old, a_old, cells_t1)
    a_all = a_old.unionByName(a_new)
    # delta legs: larger id new; then new smaller x old larger
    delta_hi = _pairs(spark, a_all, a_new, cells_t2)
    delta_lo = _pairs(spark, a_new, a_old, cells_t2)
    return store_t1.unionByName(delta_hi).unionByName(delta_lo)
