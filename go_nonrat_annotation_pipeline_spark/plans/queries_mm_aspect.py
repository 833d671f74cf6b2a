"""Multimodal aspect-ratio bucketing.

The image-side analogue of length-bucketed batching: diffusion/vision
training groups images by aspect-ratio bucket so each batch crops or
pads to its bucket's target shape instead of the global worst case
(the "aspect bucketing" recipe). Metadata comes through the repo's
Arrow decode path (stubbed byte-length arithmetic in this container —
the plumbing, grouping, and integer bucket math are the real thing);
the bucket id is a clamped integer decile of w/h, so everything at the
boundary is BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import multimodal as MM
from ..sources.testdata import load_table
from .registry import register

_CAP = 30  # clamp w/h deciles: everything ≥3:1 shares the panorama bin


@register(
    "mm_aspect_bucketing",
    f"""
    WITH meta AS (
      SELECT doc_id,
             OCTET_LENGTH(ENCODE(text)) AS n_bytes,
             OCTET_LENGTH(ENCODE(text)) % 640 + 1 AS w,
             (OCTET_LENGTH(ENCODE(text)) * 7) % 480 + 1 AS h
      FROM documents
    ), bucketed AS (
      SELECT doc_id, n_bytes, w, h,
             LEAST((10 * w) // h, {_CAP}) AS aspect_bucket
      FROM meta
    )
    SELECT CAST(aspect_bucket AS BIGINT) AS aspect_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
           CAST(MIN(w) AS BIGINT) AS min_w,
           CAST(MAX(w) AS BIGINT) AS max_w,
           CAST(MIN(h) AS BIGINT) AS min_h,
           CAST(MAX(h) AS BIGINT) AS max_h
    FROM bucketed
    GROUP BY aspect_bucket
    """,
    doc="aspect-ratio bucketing for vision-training batches: decoded "
    "(w, h) metadata → clamped integer w/h decile → per-bucket "
    "population and shape envelopes (each batch crops to its bucket's "
    "target, not the global worst case); decode rides the Arrow "
    "mapInPandas path, bucketing is one dictionary-sized aggregate",
)
def mm_aspect_bucketing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    meta = MM.decode_metadata(MM.to_binary_docs(docs)).select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        (F.col("width") + 1).cast("long").alias("w"),
        (F.col("height") + 1).cast("long").alias("h"),
    )
    bucketed = meta.withColumn(
        "aspect_bucket",
        F.least(F.expr("(10 * w) DIV h"), F.lit(_CAP)).cast("long"),
    )
    return bucketed.groupBy("aspect_bucket").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.min("w").alias("min_w"),
        F.max("w").alias("max_w"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
    )
