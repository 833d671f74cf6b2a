"""Weighted (PPS systematic) sampling query."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sampling import pps_systematic_sample
from ..sources.testdata import load_table
from .registry import register

_STEP = 1000


@register(
    "q_pps_sample",
    f"""
    WITH c AS (
      SELECT doc_id, n_chars,
             SUM(n_chars) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT doc_id, n_chars AS weight, n_hits FROM (
      SELECT doc_id, n_chars,
             CAST((cum - cum % {_STEP}) / {_STEP}
                  - ((cum - n_chars) - (cum - n_chars) % {_STEP}) / {_STEP}
                  AS INT) AS n_hits
      FROM c)
    WHERE n_hits >= 1
    """,
    doc="weighted sampling: probability-proportional-to-size systematic "
    "design — running-weight step crossings, integer-exact and "
    "RNG-free (operators/sampling.pps_systematic_sample)",
)
def q_pps_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return pps_systematic_sample(docs, F.col("n_chars"), step=_STEP)
