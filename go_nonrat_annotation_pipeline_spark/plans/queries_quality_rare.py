"""Corpus-frequency quality query (operators/retrieval.rare_token_stats)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import retrieval as R
from ..sources.testdata import load_table
from .registry import register

_RARE_BELOW = 100


@register(
    "q_rare_token_ratio",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ), counts AS (
      SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
    ), per_doc AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN c.cnt < {_RARE_BELOW} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rare
      FROM toks t JOIN counts c USING (term)
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, n_rare,
           CAST(FLOOR(n_rare * 1000.0 / n_tokens) AS INT) AS rare_permille
    FROM per_doc
    """,
    doc="corpus-frequency quality filter: per-doc rare-token counts and "
    "permille ratio — shuffle-join on the unbounded term dictionary "
    "(no broadcast hint), same skeleton as tfidf "
    "(operators/retrieval.rare_token_stats)",
)
def q_rare_token_ratio(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return R.rare_token_stats(docs, rare_below=_RARE_BELOW)
