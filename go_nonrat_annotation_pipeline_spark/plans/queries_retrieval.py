"""Retrieval queries (TF-IDF / BM25 single- and multi-query / q-gram
fuzzy join).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import retrieval as R
from ..sources.testdata import load_table
from .registry import register

# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
_TFIDF_K = 3


@register(
    "q_tfidf_topterms",
    f"""
    WITH terms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * (LN((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
               AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT doc_id, term, tf, df, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    WHERE rank <= {_TFIDF_K}
    """,
    doc="retrieval: top-3 TF-IDF terms per doc (smoothed idf, exact arithmetic)",
)
def q_tfidf_topterms(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return R.tfidf_top_terms(docs, "doc_id", "text", _TFIDF_K)


# ---------------------------------------------------------------------------
# BM25 bag-of-terms search
# ---------------------------------------------------------------------------
_BM25_TERMS = ["spark", "merge", "window"]
_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "q_bm25_search",
    f"""
    WITH base AS (
      SELECT doc_id AS _id, LEN(STRING_SPLIT(text, ' ')) AS dl,
             STRING_SPLIT(text, ' ') AS ws
      FROM documents
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    avg_ AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)
               AS avgdl
      FROM base
    ), terms AS (
      SELECT _id, dl, UNNEST(ws) AS term FROM base
    ), tf AS (
      SELECT _id, dl, term, COUNT(*) AS tf FROM terms
      WHERE term IN ({_BM25_IN}) GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT term,
             LN(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
      FROM dfreq
    ), contrib AS (
      SELECT tf._id,
             idf.idf * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (tf.dl / (SELECT avgdl FROM avg_)))) AS c
      FROM tf JOIN idf ON tf.term = idf.term
    ), scored AS (
      SELECT _id, ROUND(SUM(c), 6) AS bm25 FROM contrib GROUP BY _id
    )
    SELECT doc_id, bm25, rank FROM (
      SELECT _id AS doc_id, bm25,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, _id) AS rank
      FROM scored)
    WHERE rank <= 10
    """,
    doc="retrieval: BM25 top-10 docs for a 3-term query (k1=1.2, b=0.75)",
)
def q_bm25_search(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return R.bm25_scores(docs, _BM25_TERMS, "doc_id", "text", 1.2, 0.75, 10)


# ---------------------------------------------------------------------------
# BM25 multi-query search: a (query_id, term) workload scored in ONE
# pass over the corpus — the shape a real retrieval user hits first.
# ---------------------------------------------------------------------------
_BM25_QUERIES = [
    ("q1", "spark"),
    ("q1", "merge"),
    ("q2", "window"),
    ("q2", "spark"),
    ("q3", "merge"),
]
_BM25_Q_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)


@register(
    "q_bm25_multi",
    f"""
    WITH q(query_id, term) AS (VALUES {_BM25_Q_VALUES}),
    base AS (
      SELECT doc_id AS _id, LEN(STRING_SPLIT(text, ' ')) AS dl,
             STRING_SPLIT(text, ' ') AS ws
      FROM documents
    ), n AS (SELECT COUNT(*) AS n FROM documents),
    avg_ AS (
      SELECT CAST(SUM(dl) AS DOUBLE) / CAST((SELECT n FROM n) AS DOUBLE)
               AS avgdl
      FROM base
    ), terms AS (
      SELECT _id, dl, UNNEST(ws) AS term FROM base
    ), tf AS (
      SELECT _id, dl, term, COUNT(*) AS tf FROM terms
      WHERE term IN (SELECT term FROM q) GROUP BY 1, 2, 3
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), idf AS (
      SELECT term,
             LN(1.0 + ((SELECT n FROM n) - df + 0.5) / (df + 0.5)) AS idf
      FROM dfreq
    ), contrib AS (
      SELECT tf._id, tf.term,
             idf.idf * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 *
                 (tf.dl / (SELECT avgdl FROM avg_)))) AS c
      FROM tf JOIN idf ON tf.term = idf.term
    ), perq AS (
      SELECT q.query_id, contrib._id, ROUND(SUM(c), 6) AS bm25
      FROM contrib JOIN q ON contrib.term = q.term
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, bm25, rank FROM (
      SELECT query_id, _id AS doc_id, bm25,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY bm25 DESC, _id) AS rank
      FROM perq)
    WHERE rank <= 5
    """,
    doc="retrieval: BM25 top-5 docs per query for a 3-query workload in "
    "one corpus pass (k1=1.2, b=0.75)",
)
def q_bm25_multi(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, ["query_id", "term"])
    return R.bm25_scores_multi(
        docs, queries, "doc_id", "text", "query_id", "term", 1.2, 0.75, 5
    )


# ---------------------------------------------------------------------------
# q-gram-bounded fuzzy (levenshtein) self-join on customer names
# ---------------------------------------------------------------------------
@register(
    "q_fuzzy_name_pairs",
    """
    WITH keyed AS (
      SELECT c_custkey AS _id, c_name AS _key FROM customer
      WHERE LENGTH(c_name) >= 3
    ), grams AS (
      SELECT _id, _key, UNNEST(LIST_DISTINCT(
               LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(_key) - 2),
                              i -> SUBSTR(_key, CAST(i AS INT), 3))))
               AS gram
      FROM keyed
    ), hot AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT _id) AS nn FROM grams GROUP BY 1)
      WHERE nn > 256
    ), cold AS (
      SELECT * FROM grams WHERE gram NOT IN (SELECT gram FROM hot)
    ), cand AS (
      SELECT DISTINCT a._id AS id_a, a._key AS key_a,
                      b._id AS id_b, b._key AS key_b
      FROM cold a JOIN cold b ON a.gram = b.gram AND a._id < b._id
    )
    SELECT id_a, id_b, CAST(LEVENSHTEIN(key_a, key_b) AS INT) AS dist
    FROM cand WHERE LEVENSHTEIN(key_a, key_b) <= 2
    """,
    doc="retrieval: levenshtein<=2 customer-name pairs via q-gram-bucketed "
    "candidates (never all-pairs; hot-gram cap bounds fan-out)",
)
def q_fuzzy_name_pairs(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return R.qgram_fuzzy_pairs(
        cust, "c_custkey", F.col("c_name"), max_dist=2, q=3, max_gram_freq=256
    )
