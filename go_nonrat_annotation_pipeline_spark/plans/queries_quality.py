"""Corpus-quality queries (Gopher-rule flags, repetition signals).

Everything is integer/boolean at the hash boundary (scaled-integer
ratios via FLOOR of a single deterministic per-row double division —
see functions/text.gopher_features docstring for why that is exact
cross-engine).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as TX
from ..sources.testdata import load_table
from .registry import register

_G = TX.sql_gopher_features("text")


@register(
    "q_gopher_quality",
    f"""
    SELECT doc_id,
           {_G['n_words']} AS n_words,
           {_G['mean_word_len_x100']} AS mean_word_len_x100,
           {_G['alpha_word_permille']} AS alpha_word_permille,
           {_G['stop_hits']} AS stop_hits,
           {TX.sql_gopher_pass(_G)} AS keep
    FROM documents
    """,
    doc="quality: Gopher-rule features + keep/drop flag per doc; pure "
    "map-side codegen expressions, no shuffle",
)
def q_gopher_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.gopher_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        feats["mean_word_len_x100"].alias("mean_word_len_x100"),
        feats["alpha_word_permille"].alias("alpha_word_permille"),
        feats["stop_hits"].alias("stop_hits"),
        TX.gopher_pass(feats).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Repetition: per-doc top-word share (explode + two-level agg — the
# scale-correct shape for real 1k+-word docs) and duplicate-5-gram
# fraction (pure map-side over the shingle array).
# ---------------------------------------------------------------------------
_WORDS = TX.sql_words("text")
_DUP5 = TX.sql_dup_shingle_permille(H.sql_word_hashes(_WORDS), 5)


@register(
    "q_repetition_ratio",
    f"""
    WITH words AS (
      SELECT doc_id, UNNEST({_WORDS}) AS w FROM documents
    ), wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY 1, 2
    ), top_ AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_w FROM wc GROUP BY 1
    ), dup_ AS (
      SELECT doc_id, {_DUP5} AS dup5_permille FROM documents
    )
    SELECT top_.doc_id,
           CAST(FLOOR(CAST(top_c AS DOUBLE) * 1000 / n_w) AS BIGINT)
             AS top_word_permille,
           dup_.dup5_permille
    FROM top_ JOIN dup_ USING (doc_id)
    """,
    doc="quality: top-word share + duplicate-5-gram fraction per doc "
    "(repetition filters a la Gopher §A1.1)",
)
def q_repetition_ratio(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(TX.words(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    top = wc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_w")
    )
    dup = docs.select(
        "doc_id",
        TX.dup_shingle_permille(H.word_hashes(TX.words(F.col("text"))), 5).alias(
            "dup5_permille"
        ),
    )
    return top.join(dup, "doc_id").select(
        "doc_id",
        F.floor(F.col("top_c") * 1000 / F.col("n_w")).cast("long").alias(
            "top_word_permille"
        ),
        "dup5_permille",
    )
