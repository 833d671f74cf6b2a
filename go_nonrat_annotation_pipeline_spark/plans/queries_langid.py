"""Trained language-ID query (operators/langid.py).

The synthetic tables' lang labels are independent of the text (shared
vocabulary), so classification ACCURACY is asserted in unit tests on a
separable corpus (tests/test_langid.py); this query attests the exact
train-and-classify computation cross-engine: per-language top-20
bigram profiles from the train split, profile-overlap argmax on the
test split.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import langid as L
from ..sources.testdata import load_table
from .registry import register

_TOP_K = 20
_BG = (
    "LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(text) - 1),"
    " i -> SUBSTRING(text, i, 2))"
)


@register(
    "q_langid_trained",
    f"""
    WITH train_bg AS (
      SELECT lang, UNNEST({_BG}) AS bg
      FROM documents WHERE doc_id % 5 <> 0
    ), prof AS (
      SELECT lang, bg FROM (
        SELECT lang, bg,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, bg) AS rn
        FROM train_bg GROUP BY lang, bg)
      WHERE rn <= {_TOP_K}
    ), doc_bg AS (
      SELECT DISTINCT doc_id AS _id, bg FROM (
        SELECT doc_id, UNNEST({_BG}) AS bg
        FROM documents WHERE doc_id % 5 = 0)
    ), scored AS (
      SELECT _id, lang, COUNT(*) AS score
      FROM doc_bg JOIN prof USING (bg)
      GROUP BY _id, lang
    )
    SELECT _id AS doc_id, lang AS pred_lang, score FROM (
      SELECT _id, lang, score,
             ROW_NUMBER() OVER (PARTITION BY _id
                                ORDER BY score DESC, lang) AS rn
      FROM scored)
    WHERE rn = 1
    """,
    doc="trained language-ID: per-language top-20 char-bigram profiles "
    "(one aggregate + rank window, bounded state — legitimately "
    "broadcast-able) classify the test split by profile-overlap argmax "
    "(operators/langid.py)",
)
def q_langid_trained(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    profiles = L.train_profiles(train, top_k=_TOP_K)
    return L.classify(test, profiles)
