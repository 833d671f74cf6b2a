"""Sparse TF-IDF cosine similarity join.

The similarity family's pair joins are DENSE-vector (embedding cosine,
exact cell-pruned) or token-set (minhash/PPJoin Jaccard); this adds the
classical SPARSE-VECTOR similarity join: documents as TF-IDF weight
vectors over the vocabulary, pairs by cosine. The join is
TERM-PARTITIONED — postings lists join on term, so the shuffle key is
the term and per-term fanout is df(t)^2: the scale lever is the
STOPWORD CAP (terms with df > n/2 are dropped before pairing — they
carry near-zero idf weight and quadratic fanout; the df cap is the
sparse-join equivalent of the q-gram `hot` filter in
q_fuzzy_name_pairs).

Exactness (the q_mutual_information ppb discipline): the per-term dot
contribution w_a*w_b and the per-term norm contribution w^2 are each
rounded to ppb BIGINTs BEFORE summation, so every cross-row sum is an
order-independent integer sum; cosine is then one identical double
expression of three integers on both engines — the 1e9 scales cancel:
cos = dot_ppb / sqrt(n2a_ppb * n2b_ppb) — emitted as ppm BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_TH_PPM = 880_000  # cosine >= 0.88


@register(
    "q_tfidf_cosine_pairs",
    f"""
    WITH tterms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents
    ), ttf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tterms GROUP BY 1, 2
    ), tn AS (SELECT COUNT(*) AS n FROM documents),
    tdf AS (
      SELECT term, COUNT(*) AS df FROM ttf GROUP BY 1
    ), tw AS (
      SELECT ttf.doc_id, ttf.term,
             ttf.tf * (LN(((SELECT n FROM tn) + 1.0) / (df + 1.0)) + 1.0)
               AS w
      FROM ttf JOIN tdf USING (term)
      WHERE df * 2 <= (SELECT n FROM tn)
    ), tnorm AS (
      SELECT doc_id,
             CAST(SUM(CAST(ROUND(w * w * 1000000000) AS BIGINT))
               AS BIGINT) AS n2_ppb
      FROM tw GROUP BY 1
    ), tdot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(ROUND(a.w * b.w * 1000000000) AS BIGINT))
               AS BIGINT) AS dot_ppb
      FROM tw a JOIN tw b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(ROUND(1000000 * CAST(dot_ppb AS DOUBLE)
                / SQRT(CAST(na.n2_ppb AS DOUBLE)
                       * CAST(nb.n2_ppb AS DOUBLE))) AS BIGINT)
             AS cos_ppm
    FROM tdot
    JOIN tnorm na ON doc_a = na.doc_id
    JOIN tnorm nb ON doc_b = nb.doc_id
    WHERE CAST(ROUND(1000000 * CAST(dot_ppb AS DOUBLE)
               / SQRT(CAST(na.n2_ppb AS DOUBLE)
                      * CAST(nb.n2_ppb AS DOUBLE))) AS BIGINT)
          >= {_TH_PPM}
    """,
    doc="sparse TF-IDF cosine pair join: postings lists join "
    "term-partitioned (shuffle key = term), stopword cap df <= n/2 "
    "bounds the quadratic per-term fanout; dot and norm contributions "
    "ppb-rounded before integer summation so cosine is a deterministic "
    "scalar of three BIGINTs — hash-exact, emitted as ppm",
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n = docs.count()  # one scalar; folded into the weight expression
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(df_, "term")
        .where(F.col("df") * 2 <= F.lit(n))
        .withColumn(
            # smoothed idf in the q_tfidf_topterms form — the LN is
            # evaluated ENGINE-side on both engines (same expression,
            # same double inputs), never precomputed in Python
            "w",
            F.col("tf")
            * (
                F.log(
                    F.lit(float(n) + 1.0) / (F.col("df") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
        .select("doc_id", "term", "w")
    )
    norm = w.groupBy("doc_id").agg(
        F.sum(
            F.expr("CAST(ROUND(w * w * 1000000000) AS BIGINT)")
        )
        .cast("long")
        .alias("n2_ppb")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"),
        "term",
        F.col("w").alias("wa"),
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"),
        "term",
        F.col("w").alias("wb"),
    )
    dot = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.expr("CAST(ROUND(wa * wb * 1000000000) AS BIGINT)")
            )
            .cast("long")
            .alias("dot_ppb")
        )
    )
    cos = F.expr(
        "CAST(ROUND(1000000 * CAST(dot_ppb AS DOUBLE)"
        " / SQRT(CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)))"
        " AS BIGINT)"
    )
    return (
        dot.join(
            norm.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n2_ppb").alias("n2a"),
            ),
            "doc_a",
        )
        .join(
            norm.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n2_ppb").alias("n2b"),
            ),
            "doc_b",
        )
        .withColumn("cos_ppm", cos)
        .where(F.col("cos_ppm") >= _TH_PPM)
        .select("doc_a", "doc_b", "cos_ppm")
    )
