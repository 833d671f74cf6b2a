"""Cross-doc duplicated-span queries (operators/dupspan.py, the
exact-substring dedup of Lee et al. 2021)."""

from __future__ import annotations

from ..functions import hashing as H
from ..operators import dupspan as DS
from ..sources.testdata import load_table
from .registry import register

_N = DS.N_DEFAULT

_WORDS = "STR_SPLIT(COALESCE(text, ''), ' ')"

_COV_CTES = f"""
    tt AS (
      SELECT doc_id, {_WORDS} AS toks,
             {H.sql_word_hashes(_WORDS)} AS wh
      FROM documents
    ), shl AS (
      SELECT doc_id, {DS.sql_shingle_hashes('wh', _N)} AS sl FROM tt
    ), occ AS (
      SELECT doc_id, i - 1 AS pos, LIST_EXTRACT(sl, i) AS shash
      FROM shl, UNNEST(GENERATE_SERIES(1, LEN(sl))) AS u(i)
    ), shared AS (
      SELECT shash FROM (SELECT DISTINCT shash, doc_id FROM occ)
      GROUP BY shash HAVING COUNT(*) >= 2
    ), marked AS (
      SELECT doc_id, pos, 1 AS _m FROM occ
      WHERE shash IN (SELECT shash FROM shared)
    ), words AS (
      SELECT doc_id, i - 1 AS pos, LIST_EXTRACT(toks, i) AS w
      FROM tt, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS u(i)
    ), cov AS (
      SELECT words.doc_id, words.pos, words.w,
             MAX(COALESCE(marked._m, 0)) OVER (
               PARTITION BY words.doc_id ORDER BY words.pos
               ROWS BETWEEN {_N - 1} PRECEDING AND CURRENT ROW) AS cov
      FROM words LEFT JOIN marked
        ON marked.doc_id = words.doc_id AND marked.pos = words.pos
    )"""


@register(
    "q_dupspan_mass",
    f"""
    WITH {_COV_CTES}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(cov) AS BIGINT) AS dup_words,
           CAST(SUM(CASE WHEN cov = 1 AND prev = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_spans
    FROM (SELECT *, LAG(cov, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos)
                      AS prev
          FROM cov)
    GROUP BY doc_id
    """,
    doc="exact-substring dedup signal (Lee et al. 2021): per-doc word "
    f"mass inside {_N}-token spans duplicated across ≥2 distinct docs — "
    "shingle doc-frequency aggregate + mark semi-join + one n-wide "
    "windowed MAX per word; nothing pairwise "
    "(operators/dupspan.duplicated_span_mass)",
)
def q_dupspan_mass(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DS.duplicated_span_mass(docs, "doc_id", "text", _N)


@register(
    "q_dupspan_strip",
    f"""
    WITH {_COV_CTES}
    SELECT doc_id,
           COALESCE(STRING_AGG(w, ' ' ORDER BY pos) FILTER (WHERE cov = 0),
                    '') AS clean_text,
           CAST(SUM(CASE WHEN cov = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(cov) AS BIGINT) AS n_dropped
    FROM cov GROUP BY doc_id
    """,
    doc="exact-substring dedup REWRITE (Lee et al. 2021): every word "
    "inside a cross-doc duplicated span removed from ALL carriers, "
    "survivors reassembled in order (order-safe array_sort struct "
    "collect) — operators/dupspan.strip_duplicated_spans",
)
def q_dupspan_strip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return DS.strip_duplicated_spans(docs, "doc_id", "text", _N)
