"""Exact, MinHash-LSH and SimHash dedup queries. The shared pair-CTE
body and constants live in queries_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators import dedup as D
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import (
    PAIR_CTES as _PAIR_CTES,
    SH2 as _SH2,
    WORDS as _WORDS,
    sql_simhash as _sql_simhash,
)


@register(
    "dedup_exact",
    """
    WITH hashed AS (
      SELECT doc_id, MD5(SUBSTR(text, 1, 40)) AS k FROM documents
    ), canon AS (
      SELECT k, MIN(doc_id) AS canonical_id FROM hashed GROUP BY k
    )
    SELECT h.doc_id, c.canonical_id, h.doc_id <> c.canonical_id AS is_dup
    FROM hashed h JOIN canon c ON h.k = c.k
    """,
    doc="dedup: exact via md5 hash-groupBy, min-id canonical",
)
def dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = D.exact_dedup(docs, F.substring("text", 1, 40), "doc_id")
    return out.select("doc_id", "canonical_id", "is_dup")

@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_PAIR_CTES}
    SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM ver WHERE j >= 0.7
    """,
    doc="dedup: MinHash(k=8) + 4×2 LSH banding + Jaccard≥0.7 verify",
)
def dedup_minhash_lsh(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.7)

@register(
    "dedup_simhash",
    f"""
    SELECT doc_id, {_sql_simhash()} AS simhash
    FROM (SELECT doc_id, {H.sql_word_hashes(_WORDS)} AS wh FROM documents)
    """,
    doc="dedup: 32-bit SimHash signatures over word hashes",
)
def dedup_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, "doc_id", "text", 32)

@register(
    "dedup_ngram_jaccard",
    f"""
    WITH shd AS (
      SELECT doc_id, lang, source, LIST_DISTINCT({_SH2}) AS sh FROM documents
    ), docs AS (SELECT * FROM shd WHERE LEN(sh) > 0)
    SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(LEN(LIST_FILTER(a.sh, s -> LIST_CONTAINS(b.sh, s))) AS DOUBLE)
             / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_FILTER(a.sh, s -> LIST_CONTAINS(b.sh, s)))), 6) AS jaccard
    FROM docs a JOIN docs b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(LEN(LIST_FILTER(a.sh, s -> LIST_CONTAINS(b.sh, s))) AS DOUBLE)
             / (LEN(a.sh) + LEN(b.sh) - LEN(LIST_FILTER(a.sh, s -> LIST_CONTAINS(b.sh, s)))) >= 0.3
    """,
    doc="dedup: bucketed 2-gram Jaccard pairs ≥0.3",
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, ["lang", "source"], "doc_id", "text", 2, 0.3)

@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                 LIST_TRANSFORM(GENERATE_SERIES(1, LEN(a.v)),
                                i -> LIST_EXTRACT(a.v, i) * LIST_EXTRACT(b.v, i))),
                 (acc, x) -> acc + x)
             / (SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                    LIST_TRANSFORM(a.v, x -> x * x)), (acc, x) -> acc + x))
              * SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
                    LIST_TRANSFORM(b.v, x -> x * x)), (acc, x) -> acc + x))) AS c
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(c, 6) AS cosine FROM pairs WHERE c >= 0.45
    """,
    doc="dedup: embedding-cosine near-dup pairs ≥0.45 (exact baseline)",
)
def dedup_embedding_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.45, None)
