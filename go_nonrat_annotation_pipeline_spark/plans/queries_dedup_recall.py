"""Dedup candidate-generation quality eval.

The dedup twin of q_ann_recall: how many true near-dup pairs does the
MinHash-LSH banding miss? Ground truth is the exact shingle-Jaccard
pair set built through an INVERTED-INDEX join (pairs sharing at least
one shingle hash — exhaustive for any Jaccard > 0, since j ≥ 0.7 pairs
necessarily share shingles; cost bounded by shingle document
frequency, never all-pairs). The candidate set is the attested
dedup_minhash_lsh operator itself. Precision is 1000 by construction
(the operator verifies exact Jaccard on every collision); recall < 1000
measures banding misses — the number a deployment watches when tuning
bands × rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import dedup as D
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import PAIR_CTES as _PAIR_CTES

_THRESH = 0.7


@register(
    "q_dedup_recall",
    f"""
    WITH {_PAIR_CTES}
    , ex AS (
      SELECT doc_id, UNNEST(sh) AS s FROM docs
    ), tcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    ), truth AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               CAST(LEN(LIST_FILTER(x.sh, s -> LIST_CONTAINS(y.sh, s)))
                    AS DOUBLE)
                 / (LEN(x.sh) + LEN(y.sh)
                    - LEN(LIST_FILTER(x.sh, s -> LIST_CONTAINS(y.sh, s))))
                 AS j2
        FROM tcand
        JOIN docs x ON x.doc_id = tcand.id_a
        JOIN docs y ON y.doc_id = tcand.id_b)
      WHERE j2 >= {_THRESH}
    ), lsh AS (
      SELECT id_a, id_b FROM ver WHERE j >= {_THRESH}
    ), u AS (
      SELECT COALESCE(t.id_a, l.id_a) AS id_a,
             COALESCE(t.id_b, l.id_b) AS id_b,
             t.id_a IS NOT NULL AS in_truth,
             l.id_a IS NOT NULL AS in_lsh
      FROM truth t FULL JOIN lsh l
        ON t.id_a = l.id_a AND t.id_b = l.id_b
    )
    SELECT CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truth,
           CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
           CAST(SUM(CASE WHEN in_truth AND in_lsh THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN in_truth AND in_lsh THEN 1 ELSE 0 END)
                AS BIGINT) * 1000
             // GREATEST(CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END)
                              AS BIGINT), 1)
             AS recall_permille,
           CAST(SUM(CASE WHEN in_truth AND in_lsh THEN 1 ELSE 0 END)
                AS BIGINT) * 1000
             // GREATEST(CAST(SUM(CASE WHEN in_lsh THEN 1 ELSE 0 END)
                              AS BIGINT), 1)
             AS precision_permille
    FROM u
    """,
    doc="dedup index-quality report: MinHash-LSH pair recall/precision "
    "vs the exact-Jaccard truth set (inverted-index join, never "
    "all-pairs) — fixed-point permille BIGINT boundary "
    "(operators/dedup.minhash_lsh_pairs vs shingle_sets truth)",
)
def q_dedup_recall(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        D.shingle_sets(docs.select("doc_id", "text"), "text", 3)
        .where(F.size("sh") > 0)
        .select("doc_id", "sh")
        .localCheckpoint()
    )
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    tcand = (
        ex.select(F.col("doc_id").alias("id_a"), "s")
        .join(ex.select(F.col("doc_id").alias("id_b"), "s"), "s")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        tcand.join(x, "id_a")
        .join(y, "id_b")
        .where((inter / union.cast("double")) >= F.lit(_THRESH))
        .select("id_a", "id_b")
    )
    lsh = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, _THRESH).select(
        "id_a", "id_b"
    )
    u = (
        truth.withColumn("in_truth", F.lit(True))
        .join(
            lsh.withColumn("in_lsh", F.lit(True)),
            ["id_a", "id_b"],
            "full_outer",
        )
        .select(
            F.coalesce("in_truth", F.lit(False)).alias("in_truth"),
            F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
        )
    )
    return u.agg(
        F.sum(F.when(F.col("in_truth"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_truth"),
        F.sum(F.when(F.col("in_lsh"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lsh"),
        F.sum(F.when(F.col("in_truth") & F.col("in_lsh"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
    ).select(
        "n_truth",
        "n_lsh",
        "n_hits",
        F.expr("n_hits * 1000 DIV GREATEST(n_truth, 1)").alias(
            "recall_permille"
        ),
        F.expr("n_hits * 1000 DIV GREATEST(n_lsh, 1)").alias(
            "precision_permille"
        ),
    )
