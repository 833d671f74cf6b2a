"""Streaming DSIR scoring.

The production deployment shape for importance weighting: the bucket
model is trained OFFLINE on the static corpus (dsir_bucket_weights —
the ≤4096-row persistable artifact), then each micro-batch of incoming
documents scores against it with a stateless map-side explode + a
broadcast join re-planned per batch (the stream-static pattern of
stream_static_enrich). The per-doc aggregate is keyed on doc_id within
the batch; at 100 TB/day the admission decision (norm_ppm threshold)
rides the same micro-batch. Oracle: identical to q_dsir_scores — the
streaming path must agree with the batch path bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators import dsir as DS
from ..operators.sketches import hash60
from ..sources.testdata import load_table
from ..streaming.stream import run_to_memory
from .queries_dsir import _BUCKETS, _N, _SCORES_SQL, _target
from .registry import register


def _read_docs_stream(spark, sf_dir):
    """Streaming scan of the documents parquet (FileStreamSource needs a
    directory; pin the single file with pathGlobFilter — the
    read_events_stream trick)."""
    path = os.path.join(sf_dir, "documents.parquet")
    return (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(os.path.dirname(path))
    )


@register(
    "stream_dsir_score",
    _SCORES_SQL,
    doc="streaming DSIR: offline-trained bucket model broadcast-joined "
    "into each micro-batch (stream-static), stateless map-side n-gram "
    "explode, per-doc aggregate in-batch — must equal the batch scorer "
    "bit-for-bit (operators/dsir; same oracle as q_dsir_scores)",
)
def stream_dsir_score(spark, sf_dir):
    static_docs = load_table(spark, sf_dir, "documents")
    weights = DS.dsir_bucket_weights(
        _target(static_docs), static_docs, n=_N, buckets=_BUCKETS
    ).localCheckpoint()

    stream = _read_docs_stream(spark, sf_dir)
    occ = stream.select(
        "doc_id", F.explode(DS.word_ngrams(F.col("text"), _N)).alias("g")
    ).select("doc_id", (hash60(F.col("g")) % _BUCKETS).alias("bucket"))
    scored = (
        occ.join(F.broadcast(weights.select("bucket", "wt_ppm")), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("wt_ppm").alias("score_ppm"),
        )
    )
    out = run_to_memory(scored, "complete")
    return out.withColumn("norm_ppm", F.expr("score_ppm DIV n_grams"))
