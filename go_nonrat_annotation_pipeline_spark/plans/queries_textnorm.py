"""Text-canonicalization queries (operators/textnorm.py).

The synthetic documents are ASCII-clean, so each query first INJECTS
the defect it canonicalizes (combining marks / doubled spaces) by
deterministic key arithmetic, identically on both engines — the
normalizer is then exercised on real work, and a hash match proves the
Spark path (Arrow unicodedata / JVM regex) and the DuckDB path
(nfc_normalize / regexp_replace) agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import textnorm as TN
from ..sources.testdata import load_table
from .registry import register


@register(
    "q_unicode_nfc",
    """
    WITH inj AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'e' || CHR(769) || text
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS len_raw,
           CAST(LENGTH(NFC_NORMALIZE(text)) AS BIGINT) AS len_nfc,
           CAST(CASE WHEN NFC_NORMALIZE(text) <> text THEN 1 ELSE 0 END
                AS BIGINT) AS changed
    FROM inj
    """,
    doc="Unicode NFC canonicalization: docs with an injected decomposed "
    "e+U+0301 compose to é (length −1, changed=1), clean docs pass "
    "through untouched — stdlib unicodedata over Arrow batches vs "
    "DuckDB nfc_normalize, bit-identical "
    "(operators/textnorm.nfc_normalize)",
)
def q_unicode_nfc(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    inj = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("e\u0301"), F.col("text")),  # decomposed e+combining acute
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    norm = TN.nfc_normalize(inj)
    return inj.join(norm, "doc_id").select(
        "doc_id",
        F.length("text").cast("long").alias("len_raw"),
        F.length("text_nfc").cast("long").alias("len_nfc"),
        F.when(F.col("text_nfc") != F.col("text"), 1)
        .otherwise(0)
        .cast("long")
        .alias("changed"),
    )


@register(
    "q_text_canonicalize",
    f"""
    WITH messy AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN REGEXP_REPLACE(text, ' ', '  ', 'g')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS len_messy,
           CAST(LENGTH({TN.sql_canonicalize_ws('text')}) AS BIGINT)
             AS len_canon,
           CAST(CASE WHEN {TN.sql_canonicalize_ws('text')} <> text
                     THEN 1 ELSE 0 END AS BIGINT) AS changed
    FROM messy
    """,
    doc="whitespace canonicalization (JVM-side, dialect-safe explicit "
    "char class): injected doubled spaces collapse back to single — "
    "runs/trim normalize before hashing or tokenizing "
    "(operators/textnorm.canonicalize_ws)",
)
def q_text_canonicalize(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.regexp_replace("text", " ", "  "),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    canon = TN.canonicalize_ws(F.col("text"))
    return messy.select(
        "doc_id",
        F.length("text").cast("long").alias("len_messy"),
        F.length(canon).cast("long").alias("len_canon"),
        F.when(canon != F.col("text"), 1)
        .otherwise(0)
        .cast("long")
        .alias("changed"),
    )
