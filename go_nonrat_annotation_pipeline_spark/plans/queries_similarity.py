"""Similarity-search queries over `embeddings` (north-star extensions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import similarity as S
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import COS as _COS, cos_sql as _cos_sql  # noqa: F401


# ---------------------------------------------------------------------------
# IVF with TRAINED centroids — full oracle: operators/kmeans.kmeans_fit is
# deterministic (seed = k md5-smallest ids, argmax ties break on lower
# cent_id, empty cells keep the previous centroid, per-dim mean then
# renormalize), so the 4 Lloyd's iterations unroll as chained DuckDB CTEs.
# The Spark side runs with early_stop=False so both engines perform
# exactly _KM_ITERS update steps (the data-dependent break is not
# SQL-expressible). Sum order matches: Spark's per-dimension F.sum
# aggregates ~N/k doubles whose grouping order may differ from DuckDB's,
# but the resulting ULP-level centroid jitter only matters if two cells
# tie to ~1e-15 on an argmax — cross-checked every round by this oracle.
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_ITERS = 4


def _km_iteration(i: int) -> str:
    """One Lloyd's step: assign against c{i-1}, per-dim mean, renormalize;
    empty cells carry the previous centroid forward (kmeans.py:104)."""
    return f"""
    , a{i} AS (
      SELECT _id, v, cell FROM (
        SELECT p._id, p.v, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY p._id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM pts p, LATERAL (
          SELECT cent_id, {_cos_sql('p.v', 'cv')} AS cos FROM c{i - 1}) t)
      WHERE rn = 1
    ), m{i} AS (
      SELECT cell AS cent_id, LIST(m ORDER BY d) AS mean FROM (
        SELECT cell, d, SUM(x) / COUNT(*) AS m FROM (
          SELECT cell, UNNEST(GENERATE_SERIES(1, LEN(v))) AS d,
                 UNNEST(v) AS x
          FROM a{i})
        GROUP BY cell, d)
      GROUP BY cell
    ), c{i} AS (
      SELECT cent_id,
             LIST_TRANSFORM(mean, x -> x / SQRT(LIST_REDUCE(
                 LIST_CONCAT([CAST(0 AS DOUBLE)],
                             LIST_TRANSFORM(mean, y -> y * y)),
                 (acc, y) -> acc + y))) AS cv
      FROM m{i}
      UNION ALL
      SELECT cent_id, cv FROM c{i - 1}
      WHERE cent_id NOT IN (SELECT cent_id FROM m{i})
    )"""


_KM_FINAL = f"c{_KM_ITERS}"
_KM_ORACLE = (
    f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), pts AS (
      SELECT vec_id AS _id, v FROM e
    ), c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY MD5(CAST(_id AS VARCHAR)), _id) - 1
                  AS INT) AS cent_id,
             v AS cv
      FROM pts
      QUALIFY ROW_NUMBER() OVER (ORDER BY MD5(CAST(_id AS VARCHAR)), _id) <= {_KM_K}
    )"""
    + "".join(_km_iteration(i) for i in range(1, _KM_ITERS + 1))
    + f"""
    , assigned AS (
      SELECT _id AS neighbor_id, v, cell FROM (
        SELECT p._id, p.v, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY p._id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM pts p, LATERAL (
          SELECT cent_id, {_cos_sql('p.v', 'cv')} AS cos FROM {_KM_FINAL}) t)
      WHERE rn = 1
    ), probes AS (
      SELECT query_id, vq, cell FROM (
        SELECT q._id AS query_id, q.v AS vq, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q._id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM (SELECT * FROM pts WHERE _id < 5) q, LATERAL (
          SELECT cent_id, {_cos_sql('q.v', 'cv')} AS cos FROM {_KM_FINAL}) t)
      WHERE rn <= 2
    ), scored AS (
      SELECT p.query_id, a.neighbor_id,
             ROUND({_cos_sql('p.vq', 'a.v')}, 6) AS cosine
      FROM probes p JOIN assigned a ON a.cell = p.cell
      WHERE p.query_id <> a.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """
)


@register(
    "sim_ivf_trained",
    _KM_ORACLE,
    doc="similarity: IVF ANN over k-means-trained cells (full unrolled-"
    "Lloyd's oracle)",
)
def sim_ivf_trained(spark, sf_dir):
    from ..operators.kmeans import kmeans_fit

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_fit(
        emb, k=_KM_K, max_iter=_KM_ITERS, early_stop=False
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 5)
    return S.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, n_probe=2, centroids=cents
    )


@register(
    "sim_ivf_trained_kernel",
    _KM_ORACLE,
    doc="similarity: IVF ANN over k-means cells trained with the Arrow "
    "assignment kernel — SAME oracle as sim_ivf_trained (argmax "
    "assignment agrees between kernel and expression), so a green row "
    "attests the scale path end-to-end against the unrolled-Lloyd's SQL",
)
def sim_ivf_trained_kernel(spark, sf_dir):
    from ..operators.kmeans import kmeans_fit

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_fit(
        emb, k=_KM_K, max_iter=_KM_ITERS, early_stop=False, assign_kernel=True
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 5)
    return S.ivf_topk(
        emb,
        queries,
        "vec_id",
        "embedding",
        k=5,
        n_probe=2,
        centroids=cents,
        assign_kernel=True,
    )
