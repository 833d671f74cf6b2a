"""Source-level bigram Jaccard similarity.

Template / mirror detection at the SOURCE granularity: two corpus
sources whose bigram SETS overlap heavily are near-mirrors (same
boilerplate scaffold, syndicated feeds, scraped copies) — the
source-level complement of the document-level near-dup family.
Exact set Jaccard per source pair:

- distinct (source, bigram) postings — bigrams from the space-split
  word stream, built DuckDB-side by the zipped LIST_SLICE UNNEST
  recipe (no WITH ORDINALITY) and Spark-side by a guarded
  transform(sequence(...)) (empty array under 2 words — Spark's
  descending-sequence gotcha);
- intersections from ONE self-join on the bigram key (postings join —
  pair fan-out is Σ over bigrams of |sources sharing it|², and the
  SOURCE domain is a dictionary, so the join is bounded by
  #bigrams × sources², never documents²);
- set sizes joined in (broadcast — one row per source), Jaccard as
  integer ppm over |A∩B| / (|A|+|B|-|A∩B|).

Top-20 pairs. North-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_TOP = 20


@register(
    "q_source_jaccard",
    f"""
    WITH words AS (
      SELECT source, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    bigrams AS (
      SELECT DISTINCT source, w1 || ' ' || w2 AS bg
      FROM (
        SELECT source,
               UNNEST(LIST_SLICE(ws, 1, LEN(ws) - 1)) AS w1,
               UNNEST(LIST_SLICE(ws, 2, LEN(ws))) AS w2
        FROM words WHERE LEN(ws) >= 2
      )
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM bigrams
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM bigrams a JOIN bigrams b
        ON a.bg = b.bg AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_inter,
           sa.n AS n_a, sb.n AS n_b,
           CAST(n_inter * 1000000
                // (sa.n + sb.n - n_inter) AS BIGINT) AS jaccard_ppm
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    ORDER BY jaccard_ppm DESC, src_a, src_b
    LIMIT {_TOP}
    """,
    doc="source-level bigram-set Jaccard (template/mirror detection): "
    "distinct postings -> one self-join on the bigram key (bounded by "
    "the dictionary-sized source domain), sizes broadcast, integer "
    "jaccard_ppm, top-20 pairs via per-partition heaps",
)
def q_source_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.split(F.col("text"), " ").alias("ws")
    )
    n = F.size("ws")
    bg_expr = F.when(n < 2, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("ws", i), F.element_at("ws", i + 1)
            ),
        )
    )
    bigrams = (
        docs.select("source", F.explode(bg_expr).alias("bg")).distinct()
    )
    sizes = bigrams.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = bigrams.select(F.col("source").alias("src_a"), "bg")
    b = bigrams.select(F.col("source").alias("src_b"), "bg")
    inter = (
        a.join(b, "bg")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("src_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_a",
            "n_b",
            F.expr(
                "CAST(n_inter * 1000000"
                " DIV (n_a + n_b - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), F.asc("src_a"), F.asc("src_b"))
        .limit(_TOP)
    )
