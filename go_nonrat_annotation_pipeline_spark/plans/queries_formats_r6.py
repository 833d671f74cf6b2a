"""CSV sink → source round-trip. Completes the interchange-format set
next to parquet (native), JSONL (q_jsonl_roundtrip) and ORC
(q_orc_roundtrip): header on, explicit quoting, explicit-schema
read-back (no inference scan), partition-parallel on both sides."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register


@register(
    "q_csv_roundtrip",
    """
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(LEN(text)) AS BIGINT) AS text_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM documents GROUP BY lang, source
    """,
    doc="CSV sink→source round-trip is lossless (header + quoting + "
    "explicit-schema read-back; oracle aggregates the original table — "
    "equality incl. summed text lengths proves the trip)",
)
def q_csv_roundtrip(spark, sf_dir):
    import os
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(tempfile.mkdtemp(prefix="csv_rt_"), "docs")
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
    back = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
