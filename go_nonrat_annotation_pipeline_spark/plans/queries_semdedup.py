"""Semantic-dedup queries (operators/semdedup.py).

Oracle: one full-vector kmeans CTE chain (shared_sql.train_ctes — the
same deterministic Lloyd's mirror the PQ family unrolls per subspace),
then the within-cell pairwise pass: cell equi-join, exact cosine,
id-ordered drop rule, min-id representative via ARG_MIN. The Spark
side trains with early_stop=False so both engines run the identical
_SD_ITERS update steps.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import semdedup as SD
from ..operators.kmeans import kmeans_fit
from ..operators.util import ensure_parallelism
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql as _cos_sql, train_ctes as _train_ctes

_SD_K = 8
_SD_ITERS = 4
_SD_TAU = 0.45

# shared oracle prefix: points, trained centroids (tc4), map-equivalent
# argmax assignment, within-cell verified pairs, and the drop table
_SD_CTES = f"""
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ){_train_ctes('t', _SD_K, _SD_ITERS)}
    , asg AS (
      SELECT _id, v, cell FROM (
        SELECT x._id, x.v, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY x._id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM tpts x, LATERAL (
          SELECT cent_id, {_cos_sql('x.v', 'cv')} AS cos
          FROM tc{_SD_ITERS}) t)
      WHERE rn = 1
    ), prs AS (
      SELECT a.cell, a._id AS id_a, b._id AS id_b,
             {_cos_sql('a.v', 'b.v')} AS c
      FROM asg a JOIN asg b ON a.cell = b.cell AND a._id < b._id
    ), dup AS (
      SELECT cell, id_b AS drop_id, MIN(id_a) AS keep_id,
             ROUND(ARG_MIN(c, id_a), 6) AS cosine
      FROM prs WHERE c >= {_SD_TAU}
      GROUP BY cell, id_b
    )"""


def _fitted_assignment(spark, sf_dir):
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_fit(emb, k=_SD_K, max_iter=_SD_ITERS, early_stop=False)
    return SD.semdedup_assign(emb, cents).localCheckpoint()


@register(
    "q_semdedup_drops",
    _SD_CTES
    + """
    SELECT cell, drop_id, keep_id, cosine FROM dup
    """,
    doc="SemDeDup: kmeans-cluster embeddings, then near-dup pairs ONLY "
    "within a cell (equi-join on cluster id — never global pairwise); "
    "drop higher-id member, report the min-id representative "
    "(operators/semdedup.semdedup_drops; arXiv:2303.09540)",
)
def q_semdedup_drops(spark, sf_dir):
    assigned = _fitted_assignment(spark, sf_dir)
    return SD.semdedup_drops(assigned, _SD_TAU)


@register(
    "q_semdedup_report",
    _SD_CTES
    + """
    SELECT r.cell, r.n_vecs, CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM (SELECT cell, COUNT(*) AS n_vecs FROM asg GROUP BY cell) r
    LEFT JOIN (SELECT cell, COUNT(*) AS n_dropped FROM dup GROUP BY cell) d
      USING (cell)
    """,
    doc="SemDeDup operational report: per-cluster size and dedup "
    "pressure — a hot cell says grow k or sub-split that cell "
    "(operators/semdedup.semdedup_report)",
)
def q_semdedup_report(spark, sf_dir):
    assigned = _fitted_assignment(spark, sf_dir)
    drops = SD.semdedup_drops(assigned, _SD_TAU)
    return SD.semdedup_report(assigned, drops)
