"""Zipf-law fit over the term frequency distribution.

Corpus-health diagnostic the text family lacked: natural text follows
freq(rank) ∝ rank^(-s) with s ≈ 1; a fitted exponent far from 1 flags
boilerplate floods, deduplication failures, or synthetic/templated
text. Fit = OLS slope of ln(freq) on ln(rank) over the top-M terms.

Spark shape: term frequencies (explode + groupBy), top-M via
orderBy().limit(M) (TakeOrderedAndProject — per-partition heaps, the
repo's global-top-k discipline), rank over exactly M rows. Exactness:
per-term ln(rank)·ln(freq) / ln² products are ppb-rounded BIGINTs
BEFORE the M-row sums (order-independent integer summation), and the
OLS closed form is one identical double expression of those exact
integers on both engines, ppm-rounded.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources.testdata import load_table
from .registry import register

_M = 20  # top terms fitted


@register(
    "q_zipf_slope",
    f"""
    WITH zterms AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ),
    zfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM zterms GROUP BY 1
    ),
    ztop AS (
      SELECT term, freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term)
               AS BIGINT) AS rank
      FROM zfreq
      QUALIFY rank <= {_M}
    ),
    zc AS (
      SELECT
        CAST(ROUND(1000000000 * LN(CAST(rank AS DOUBLE))) AS BIGINT)
          AS lr_ppb,
        CAST(ROUND(1000000000 * LN(CAST(freq AS DOUBLE))) AS BIGINT)
          AS lf_ppb,
        CAST(ROUND(1000000000 * LN(CAST(rank AS DOUBLE))
             * LN(CAST(rank AS DOUBLE))) AS BIGINT) AS lrlr_ppb,
        CAST(ROUND(1000000000 * LN(CAST(rank AS DOUBLE))
             * LN(CAST(freq AS DOUBLE))) AS BIGINT) AS lrlf_ppb
      FROM ztop
    ),
    zm AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(lr_ppb) AS DOUBLE) AS slr,
             CAST(SUM(lf_ppb) AS DOUBLE) AS slf,
             CAST(SUM(lrlr_ppb) AS DOUBLE) AS slrlr,
             CAST(SUM(lrlf_ppb) AS DOUBLE) AS slrlf
      FROM zc
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           CAST(ROUND(1000000 *
                (n * slrlf / 1000000000 - slr / 1000000000
                                          * slf / 1000000000)
                / (n * slrlr / 1000000000 - slr / 1000000000
                                            * slr / 1000000000))
             AS BIGINT) AS zipf_slope_ppm
    FROM zm
    """,
    doc="Zipf exponent fit: OLS slope of ln(freq) on ln(rank) over the "
    "top-20 terms — top-M via orderBy().limit (per-partition heaps), "
    "rank over exactly M rows; per-term log products ppb-rounded "
    "before the integer sums, closed form one identical double "
    "expression, ppm-rounded",
)
def q_zipf_slope(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = freq.orderBy(F.desc("freq"), F.asc("term")).limit(_M)
    w = Window.partitionBy(F.col("freq") % 1).orderBy(
        F.desc("freq"), F.asc("term")
    )
    ranked = top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
    zc = ranked.select(
        F.expr(
            "CAST(ROUND(1000000000 * LN(CAST(rank AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("lr_ppb"),
        F.expr(
            "CAST(ROUND(1000000000 * LN(CAST(freq AS DOUBLE)))"
            " AS BIGINT)"
        ).alias("lf_ppb"),
        F.expr(
            "CAST(ROUND(1000000000 * LN(CAST(rank AS DOUBLE))"
            " * LN(CAST(rank AS DOUBLE))) AS BIGINT)"
        ).alias("lrlr_ppb"),
        F.expr(
            "CAST(ROUND(1000000000 * LN(CAST(rank AS DOUBLE))"
            " * LN(CAST(freq AS DOUBLE))) AS BIGINT)"
        ).alias("lrlf_ppb"),
    )
    zm = zc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lr_ppb").cast("double").alias("slr"),
        F.sum("lf_ppb").cast("double").alias("slf"),
        F.sum("lrlr_ppb").cast("double").alias("slrlr"),
        F.sum("lrlf_ppb").cast("double").alias("slrlf"),
    )
    return zm.select(
        F.col("n").cast("long").alias("n_terms"),
        F.expr(
            "CAST(ROUND(1000000 *"
            " (n * slrlf / 1000000000 - slr / 1000000000"
            "                           * slf / 1000000000)"
            " / (n * slrlr / 1000000000 - slr / 1000000000"
            "                             * slr / 1000000000))"
            " AS BIGINT)"
        ).alias("zipf_slope_ppm"),
    )
