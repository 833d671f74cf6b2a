"""DSIR importance-weighting queries (operators/dsir.py).

Target corpus = documents from sources src0/src1 (a deterministic 10%
"curated domain" slice of the synthetic pool); raw = all documents.
All arithmetic is fixed-point BIGINT (see operators/dsir.py float
discipline note), so both engines agree bit-for-bit and no column
trips the driver's typed-hash boundary (tools/float_lint.py checks the
oracle side too since round 6).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dsir as DS
from ..sources.testdata import load_table
from .registry import register

_TARGET_SOURCES = ("src0", "src1")
_N = 2
_BUCKETS = DS.DEFAULT_BUCKETS
_KEEP = 0.2

# Shared oracle CTE body: hashed-bigram occurrences and the two count
# models over an arbitrary source relation (needs doc_id, source, text).
# hash60 mirror = CAST('0x' || first 15 md5 hex chars AS BIGINT)
# (operators/sketches.sql_hash60 — inlined here over the ngram string).
# Parametrized (like shared_sql.pair_ctes) so the corpus-build E2E can
# run the same model over its boilerplate-stripped intermediate.
def dsir_ctes(src: str = "documents") -> str:
    """Defines base/occ/t/r/w — avoid those CTE names around it."""
    return f"""
    base AS (
      SELECT doc_id, source,
             LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
      FROM {src}
    ), occ AS (
      SELECT doc_id, source,
             CAST('0x' || SUBSTR(MD5(toks[i] || ' ' || toks[i + 1]), 1, 15)
                  AS BIGINT) % {_BUCKETS} AS bucket
      FROM (SELECT doc_id, source, toks,
                   UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS i
            FROM base)
    ), t AS (
      SELECT bucket, COUNT(*) AS t_cnt FROM occ
      WHERE source IN {str(tuple(_TARGET_SOURCES))}
      GROUP BY bucket
    ), r AS (
      SELECT bucket, COUNT(*) AS r_cnt FROM occ GROUP BY bucket
    ), w AS (
      SELECT COALESCE(t.bucket, r.bucket) AS bucket,
             CAST(COALESCE(t_cnt, 0) AS BIGINT) AS t_cnt,
             CAST(COALESCE(r_cnt, 0) AS BIGINT) AS r_cnt,
             (COALESCE(t_cnt, 0) + 1) * {DS.PPM}
                 // (COALESCE(r_cnt, 0) + 1) AS wt_ppm
      FROM t FULL JOIN r ON t.bucket = r.bucket
    )
"""


_PREFIX = "    WITH " + dsir_ctes()


def _target(docs):
    return docs.where(F.col("source").isin(*_TARGET_SOURCES))


@register(
    "q_dsir_bucket_weights",
    _PREFIX + "SELECT bucket, t_cnt, r_cnt, wt_ppm FROM w",
    doc="DSIR hashed-bigram model: per-bucket target/raw counts and the "
    "smoothed fixed-point importance weight — two corpus aggregates into "
    "a ≤4096-row persistable model table (operators/dsir."
    "dsir_bucket_weights; arXiv:2302.03169)",
)
def q_dsir_bucket_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DS.dsir_bucket_weights(
        _target(docs), docs, n=_N, buckets=_BUCKETS
    )


_SCORES_SQL = (
    _PREFIX
    + f"""
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(wt_ppm) AS BIGINT) AS score_ppm,
           CAST(SUM(wt_ppm) AS BIGINT) // COUNT(*) AS norm_ppm
    FROM occ o JOIN w USING (bucket)
    GROUP BY o.doc_id
    """
)


@register(
    "q_dsir_scores",
    _SCORES_SQL,
    doc="DSIR per-doc importance: broadcast-join occurrences to the "
    "bucket model, one partial-aggregated groupBy — exact BIGINT "
    "ratio-sum plus the length-normalized selection statistic "
    "(operators/dsir.dsir_scores)",
)
def q_dsir_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = DS.dsir_bucket_weights(_target(docs), docs, n=_N, buckets=_BUCKETS)
    return DS.dsir_scores(docs, w, n=_N, buckets=_BUCKETS)


_SELECT_SQL = (
    _PREFIX
    + f"""
    , scored AS (
      SELECT o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(wt_ppm) AS BIGINT) AS score_ppm,
             CAST(SUM(wt_ppm) AS BIGINT) // COUNT(*) AS norm_ppm
      FROM occ o JOIN w USING (bucket)
      GROUP BY o.doc_id
    )
    SELECT doc_id, n_grams, score_ppm, norm_ppm FROM scored
    QUALIFY ROW_NUMBER() OVER (ORDER BY norm_ppm DESC, doc_id)
            <= CEIL({_KEEP} * COUNT(*) OVER ())
    """
)


@register(
    "q_dsir_select",
    _SELECT_SQL,
    doc="DSIR deterministic selection: top ceil(20%) of docs by "
    "length-normalized importance (norm_ppm desc, id asc) — one count "
    "job + distributed TakeOrdered, no global window "
    "(operators/dsir.dsir_select)",
)
def q_dsir_select(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = DS.dsir_bucket_weights(_target(docs), docs, n=_N, buckets=_BUCKETS)
    scored = DS.dsir_scores(docs, w, n=_N, buckets=_BUCKETS)
    return DS.dsir_select(scored, _KEEP)
