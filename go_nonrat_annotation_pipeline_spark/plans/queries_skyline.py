"""Pareto skyline (maximal-vector / preference query).

A new operator class for the engine: given points with d objectives,
return the set not DOMINATED by any other point (dominates = >= on
every objective, > on at least one — Borzsonyi/Kossmann/Stocker, "The
Skyline Operator", ICDE 2001). The curation reading here: documents
that are simultaneously long (n_chars) and lexically diverse
(distinct-word ppm) — no other document beats them on both axes.

Distributed shape (the standard two-phase skyline, expressed in pure
DataFrame ops):

1. BUCKET-LOCAL skyline: points are hash-bucketed (crc32(doc_id) % B)
   and each bucket computes its local skyline with windows PARTITIONED
   BY BUCKET — dominance within a bucket implies global dominance, so
   survivors form a SUPERSET of the answer while every window runs
   B-way parallel over corpus-sized data.
2. GLOBAL skyline over the (staircase-sized) candidate union — the
   same window logic on a frame that is at most the final answer's
   size per bucket, i.e. orders of magnitude below corpus size.

The per-phase dominance test is windowed, not a self-join: with rows
sorted (x DESC, y DESC), p is dominated iff
  max(y) over rows with x > p.x   >= p.y      (RANGE frame on x), or
  max(y) over rows with x = p.x   >  p.y      (per-x partition max)
— two window functions instead of an O(n^2) NOT EXISTS. Both
objectives are exact BIGINTs (n_chars; uniq_ppm = 1e6 * distinct
words DIV words), so the oracle — the textbook quadratic NOT EXISTS
dominance SQL — matches hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..sources.testdata import load_table
from .registry import register

_B = 16  # phase-1 buckets

_POINTS_SQL = """
      SELECT doc_id,
             n_chars AS x,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 1000000
                  // LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS y
      FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) > 0
"""


def _skyline_pass(pts: DataFrame, bucket_col) -> DataFrame:
    """One windowed dominance pass: rows not dominated WITHIN their
    ``bucket_col`` partition survive. Exact for the global skyline
    when bucket_col is constant; a pruning superset otherwise."""
    wx = (
        Window.partitionBy(bucket_col)
        .orderBy(F.desc("x"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wsame = Window.partitionBy(bucket_col, "x")
    return (
        pts.withColumn("_gt_max", F.max("y").over(wx))
        .withColumn("_eq_max", F.max("y").over(wsame))
        .where(
            (
                F.col("_gt_max").isNull()
                | (F.col("_gt_max") < F.col("y"))
            )
            & (F.col("_eq_max") <= F.col("y"))
        )
        .drop("_gt_max", "_eq_max")
    )


@register(
    "q_pareto_skyline",
    f"""
    WITH pts AS ({_POINTS_SQL})
    SELECT doc_id, x AS n_chars, y AS uniq_ppm
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.x >= p.x AND q.y >= p.y
        AND (q.x > p.x OR q.y > p.y)
    )
    """,
    doc="Pareto skyline over documents (maximize n_chars and distinct-"
    "word ppm): two-phase distributed skyline — bucket-local windowed "
    "dominance passes (partitioned, corpus-parallel) then the same "
    "pass over the staircase-sized candidate union; objectives are "
    "exact integers so the quadratic NOT-EXISTS oracle matches "
    "hash-exactly",
)
def q_pareto_skyline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    pts = (
        docs.where(F.size(words) > 0)
        .select(
            "doc_id",
            F.col("n_chars").alias("x"),
            F.expr(
                "CAST(size(array_distinct(split(text, ' '))) * 1000000L"
                " DIV size(split(text, ' ')) AS BIGINT)"
            ).alias("y"),
        )
    )
    # phase 1: bucket-local skylines (B-way parallel windows); any
    # point dominated inside its bucket is dominated globally, so the
    # union of survivors is a superset of the global skyline
    bucketed = pts.withColumn(
        "_b", F.crc32(F.col("doc_id").cast("string")) % _B
    )
    candidates = _skyline_pass(bucketed, F.col("_b")).drop("_b")
    # phase 2: global pass over the staircase-sized candidate set
    # (column-derived constant partition — one group, warning-free)
    sky = _skyline_pass(candidates, F.col("doc_id") % 1)
    return sky.select(
        "doc_id",
        F.col("x").alias("n_chars"),
        F.col("y").alias("uniq_ppm"),
    )
