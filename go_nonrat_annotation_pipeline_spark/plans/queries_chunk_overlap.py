"""Overlapping sliding-window chunking.

Long-document preparation for embedding/retrieval pipelines: fixed
window w with stride s < w, so consecutive chunks share w−s words of
context (the RAG-standard layout; the non-overlapping variant is
q_doc_chunking). Spark-first shape per the round-6 HOF lesson: NO wide
higher-order fold — words explode once with their positions, each word
joins to the ≤ ⌈w/s⌉ chunks containing it via bounded index arithmetic
(an explode of at most 2 rows per word at these parameters), and one
hash aggregate per (doc, chunk) emits the length and an order-sensitive
position-weighted checksum (Σ hash·offset — aggregation-order-free yet
order-attesting, since the multiplier IS the position).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..sources.testdata import load_table
from .registry import register

_W = 32        # window (words)
_S = 24        # stride
_MOD = 2_147_483_647


@register(
    "q_chunk_overlap",
    f"""
    WITH words AS (
      SELECT doc_id, p, {H.sql_char_hash('w')} AS wh
      FROM (
        SELECT doc_id,
               UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '),
                                  x -> x <> '')) AS w,
               UNNEST(GENERATE_SERIES(1,
                   LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                   x -> x <> '')))) AS p
        FROM documents)
    ), memb AS (
      SELECT doc_id, p, wh,
             UNNEST(GENERATE_SERIES(
                 GREATEST(CAST(CEIL((p - {_W}) * 1.0 / {_S}) AS BIGINT),
                          0),
                 (p - 1) // {_S})) AS ci
      FROM words
    )
    SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wh * (p - ci * {_S})) % {_MOD} AS BIGINT) AS chk
    FROM memb
    GROUP BY doc_id, ci
    """,
    doc="overlapping sliding-window chunking (w=32, stride 24 — "
    "consecutive chunks share 8 words): bounded membership explode "
    "(≤2 chunks/word) + one hash aggregate, no wide HOF folds; the "
    "position-weighted checksum attests word ORDER inside every chunk",
)
def q_chunk_overlap(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("p0", "w"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("p"),
        H.char_hash(F.col("w")).alias("wh"),
    )
    lo = F.greatest(
        F.ceil((F.col("p") - _W) * 1.0 / _S).cast("long"), F.lit(0)
    )
    hi = F.expr(f"(p - 1) DIV {_S}")
    memb = words.select(
        "doc_id",
        "p",
        "wh",
        F.explode(F.sequence(lo, hi)).alias("ci"),
    )
    return memb.groupBy("doc_id", "ci").agg(
        F.count(F.lit(1)).alias("n_words"),
        (F.sum(F.col("wh") * (F.col("p") - F.col("ci") * _S)) % _MOD)
        .cast("long")
        .alias("chk"),
    ).select(
        "doc_id",
        F.col("ci").cast("long").alias("chunk_idx"),
        "n_words",
        "chk",
    )
