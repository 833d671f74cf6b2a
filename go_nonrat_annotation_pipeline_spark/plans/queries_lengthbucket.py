"""Length-bucketed batching queries.

Dynamic batching by length: grouping similar-length documents into the
same batch shrinks padding waste (every row pads to its BUCKET's max
instead of the global max). The equi-depth NTILE split is the standard
scheme; the gain query puts a number on it — the padding-efficiency
measurement that decides bucket count for a training dataloader.

The NTILE here rides a global order (diagnostic form, like
q_hilbert_locality); the production layout applies the same bucketing
per shard after the hash partition, where each shard's sort is local.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.testdata import load_table
from .registry import register

_BUCKETS = 8

_TOK = (
    "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))"
    " AS BIGINT)"
)

def _bucketed(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    base = docs.select("doc_id", tok.alias("tok"))
    w = Window.orderBy("tok", "doc_id")
    return base.withColumn("bucket", F.ntile(_BUCKETS).over(w))


@register(
    "q_length_bucketing",
    f"""
    WITH lb AS (
      SELECT doc_id, {_TOK} AS tok,
             NTILE({_BUCKETS}) OVER (ORDER BY {_TOK}, doc_id) AS bucket
      FROM documents
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(tok) AS BIGINT) AS max_tok,
           CAST(MAX(tok) * COUNT(*) - SUM(tok) AS BIGINT)
             AS padding_waste
    FROM lb
    GROUP BY bucket
    """,
    doc="equi-depth length buckets for dynamic batching: per bucket, "
    "padding waste = n·max(tok) − Σtok — every row pads to its "
    "bucket's max instead of the global max",
)
def q_length_bucketing(spark, sf_dir):
    b = _bucketed(spark, sf_dir)
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("tok").alias("max_tok"),
        (F.max("tok") * F.count(F.lit(1)) - F.sum("tok")).alias(
            "padding_waste"
        ),
    )


@register(
    "q_length_bucketing_gain",
    f"""
    WITH lb AS (
      SELECT doc_id, {_TOK} AS tok,
             NTILE({_BUCKETS}) OVER (ORDER BY {_TOK}, doc_id) AS bucket
      FROM documents
    ), per_bucket AS (
      SELECT bucket,
             CAST(MAX(tok) AS BIGINT) * CAST(COUNT(*) AS BIGINT)
               - CAST(SUM(tok) AS BIGINT) AS waste
      FROM lb GROUP BY bucket
    ), gwaste AS (
      SELECT CAST(MAX(tok) AS BIGINT) * CAST(COUNT(*) AS BIGINT)
               - CAST(SUM(tok) AS BIGINT) AS waste
      FROM lb
    )
    SELECT
      (SELECT CAST(SUM(waste) AS BIGINT) FROM per_bucket)
        AS waste_bucketed,
      (SELECT waste FROM gwaste) AS waste_global,
      CAST(FLOOR(1000.0 * (SELECT SUM(waste) FROM per_bucket)
                 / (SELECT waste FROM gwaste)) AS BIGINT)
        AS waste_ratio_permille
    """,
    doc="the bucketing payoff in one row: total padding waste with 8 "
    "length buckets vs one global batch — the number that sizes the "
    "dataloader's bucket count",
)
def q_length_bucketing_gain(spark, sf_dir):
    b = _bucketed(spark, sf_dir)
    per_bucket = b.groupBy("bucket").agg(
        (F.max("tok") * F.count(F.lit(1)) - F.sum("tok")).alias("waste")
    )
    glob = b.agg(
        (F.max("tok") * F.count(F.lit(1)) - F.sum("tok")).alias(
            "waste_global"
        )
    )
    return (
        per_bucket.agg(F.sum("waste").cast("long").alias("waste_bucketed"))
        .crossJoin(glob.select(F.col("waste_global").cast("long")))
        .select(
            "waste_bucketed",
            "waste_global",
            F.floor(
                1000.0 * F.col("waste_bucketed") / F.col("waste_global")
            )
            .cast("long")
            .alias("waste_ratio_permille"),
        )
    )


@register(
    "q_length_bucketing_sketch",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOK} AS tok FROM documents
    ), vals AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ), cum AS (
      SELECT tok,
             SUM(cnt) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING)
               AS c,
             (SELECT SUM(cnt) FROM vals) AS n
      FROM vals
    ), bounds AS (
      SELECT b, MIN(tok) AS boundary
      FROM cum, UNNEST(GENERATE_SERIES(1, {_BUCKETS - 1})) AS t(b)
      WHERE 8 * c >= b * n
      GROUP BY b
    ), assigned AS (
      SELECT t.doc_id, t.tok,
             1 + (SELECT COUNT(*) FROM bounds WHERE boundary < t.tok)
               AS bucket
      FROM toks t
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(tok) AS BIGINT) AS min_tok,
           CAST(MAX(tok) AS BIGINT) AS max_tok,
           CAST(MAX(tok) * COUNT(*) - SUM(tok) AS BIGINT)
             AS padding_waste
    FROM assigned
    GROUP BY bucket
    """,
    doc="the SCALE path for equi-depth length bucketing (no global "
    "NTILE sort): exact per-length counts are dictionary-sized, "
    "boundaries fall out of one cumulative window over that "
    "dictionary (8·cum ≥ b·N — integer-exact), and assignment is a "
    "broadcast of ≤7 boundary rows; ties share a bucket by "
    "construction, unlike NTILE's row-split",
)
def q_length_bucketing_sketch(spark, sf_dir):
    b = _bucketed(spark, sf_dir).select("doc_id", "tok")
    vals = b.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("tok").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.withColumn("c", F.sum("cnt").over(w)).crossJoin(
        vals.agg(F.sum("cnt").alias("n"))
    )
    bs = spark.range(1, _BUCKETS).select(F.col("id").alias("b"))
    bounds = (
        cum.crossJoin(F.broadcast(bs))
        .where(8 * F.col("c") >= F.col("b") * F.col("n"))
        .groupBy("b")
        .agg(F.min("tok").alias("boundary"))
    )
    assigned = b.crossJoin(
        F.broadcast(
            bounds.agg(
                F.collect_list("boundary").alias("_bl")
            )
        )
    ).select(
        "doc_id",
        "tok",
        (
            1
            + F.size(
                F.filter(F.col("_bl"), lambda x: x < F.col("tok"))
            )
        )
        .cast("long")
        .alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("tok").alias("min_tok"),
        F.max("tok").alias("max_tok"),
        (F.max("tok") * F.count(F.lit(1)) - F.sum("tok")).alias(
            "padding_waste"
        ),
    )
