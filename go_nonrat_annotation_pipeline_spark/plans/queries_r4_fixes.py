"""Repairs of four queries whose results failed the hash comparison
(VERDICT.md round 3, "What's wrong" 1-4).

All four passed the local exact-value oracle in round 3 — the failures
were at the driver's canonicalization/hash boundary (raw array, raw
timestamp, double→decimal rounding, divided double). Each fix pins the
final projection to a representation both engines produce bit-identically:

- ``mm_feature_extract``   — the ``array<float>`` column crashed the
  driver's pandas canonicalizer; the vector is now serialized to an
  integer CSV string in BOTH engines (the stub features are exact
  multiples of 1/97, so ``round(x*97)`` recovers the integer lattice
  losslessly from float32).
- ``stream_tumbling_agg``  — ``window.start`` is cast to epoch-seconds
  BIGINT on both sides (session TZ is pinned UTC in session.py; Spark's
  1h tumbling windows are epoch-aligned, so this equals DuckDB's
  ``DATE_TRUNC('hour', ts)`` epoch).
- ``q_salted_skew_join``   — money sums in integer cents
  (``ROUND(l_quantity*100)`` summed as BIGINT): no double→decimal cast
  at the hash boundary.
- ``corpus_clean_pipeline`` — the average is emitted as integer
  micro-tokens via exact integer division (``(SUM*1_000_000) div
  COUNT``; Spark ``div`` truncates, DuckDB ``//`` floors — identical on
  the non-negative domain), per the registry float-discipline rule.

The queries' pipeline bodies are unchanged from their round-3 forms in
queries_multimodal / queries_streaming / queries_analytics / queries_text
(moved here, final projection repaired); the operator paths exercised —
mapInPandas feature extraction, streaming tumbling window, salted join,
composite corpus clean — are identical.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup as D
from ..operators import multimodal as MM
from ..operators.skew import salted_join
from ..sources.testdata import load_table
from ..streaming.stream import read_events_stream, run_to_memory, tumbling_counts
from .registry import register

_WORDS = TX.sql_words("text")


# ---------------------------------------------------------------------------
# Multimodal feature extraction (Arrow mapInPandas encoder stub), with the
# embedding serialized driver-safely: features[i] == ((n_bytes*(i+1)) % 97)/97
# exactly representable on the 1/97 lattice, so round(x*97) is lossless.
# ---------------------------------------------------------------------------
@register(
    "mm_feature_extract",
    f"""
    SELECT doc_id,
           {MM.N_FEATURES} AS n_features,
           ARRAY_TO_STRING(
             LIST_TRANSFORM(GENERATE_SERIES(1, {MM.N_FEATURES}),
               i -> CAST((OCTET_LENGTH(ENCODE(text)) * i) % 97 AS VARCHAR)),
             ',') AS features_csv
    FROM documents
    """,
    doc="multimodal: binary → embedding stub (batch encoder plumbing), "
    "vector serialized to integer CSV for the hash boundary",
)
def mm_feature_extract(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = MM.extract_features(MM.to_binary_docs(docs))
    return feats.select(
        "doc_id",
        F.size("features").alias("n_features"),
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: F.round(x.cast("double") * F.lit(97.0))
                .cast("int")
                .cast("string"),
            ),
        ).alias("features_csv"),
    )


# ---------------------------------------------------------------------------
# Streaming tumbling-window aggregation, window start emitted as epoch
# seconds (UTC session TZ; 1h windows are epoch-aligned in both engines).
# Value sum ships as integer MICRO-units BIGINT: the internal accumulation
# stays decimal-exact (streaming/stream.py tumbling_counts), but the driver
# boundary never sees a DECIMAL column — the r4 driver hasher empirically
# diverges on DECIMAL output (rows+schema matched, hash didn't, two rounds
# running), and events.value is 2-decimal-exact at every SF (verified:
# zero rows where value <> round(value, 6)), so value*1e6 is lossless on
# both engines. Same integer-units pattern that turned q_salted_skew_join
# green in r4.
# ---------------------------------------------------------------------------
@register(
    "stream_tumbling_agg",
    """
    SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS window_start_epoch,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) AS BIGINT)
             AS total_value_micro
    FROM events GROUP BY 1, 2
    """,
    doc="streaming: tumbling 1h window counts/sums (memory-sink drain), "
    "window start as epoch-seconds BIGINT, value sum as micro-units BIGINT",
)
def stream_tumbling_agg(spark, sf_dir):
    events = read_events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    agg = tumbling_counts(events, "1 hour")
    out = run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").cast("long").alias("window_start_epoch"),
        "event_type",
        "n",
        # decimal(38,6) * 1e6 is exact decimal arithmetic; the cast to
        # long is the identity on these values (<= 2 fractional digits
        # in the source data).
        (F.col("total_value") * F.lit(1000000)).cast("long").alias(
            "total_value_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Skew-safe salted equi-join (operators/skew.py), money in integer cents:
# l_quantity has <=2 decimal digits, so round(x*100) is integer-exact in
# double and the BIGINT sum needs no cross-engine rounding at all. Oracle
# is the PLAIN join — salting must be semantically invisible.
# ---------------------------------------------------------------------------
@register(
    "q_salted_skew_join",
    """
    SELECT d_label, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS sum_qty_cents
    FROM (SELECT l_suppkey % 10 AS bucket, l_quantity FROM lineitem) f
    JOIN (SELECT DISTINCT l_suppkey % 10 AS bucket,
                 'B' || CAST(l_suppkey % 10 AS VARCHAR) AS d_label
          FROM lineitem) d USING (bucket)
    GROUP BY d_label
    """,
    doc="skew-safe salted equi-join on a 10-value hot key, plain-join "
    "oracle, integer-cents sum",
)
def q_salted_skew_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        (F.col("l_suppkey") % 10).alias("bucket"), "l_quantity"
    )
    dim = (
        li.select((F.col("l_suppkey") % 10).alias("bucket"))
        .distinct()
        .select(
            "bucket",
            F.concat(F.lit("B"), F.col("bucket").cast("string")).alias("d_label"),
        )
    )
    joined = salted_join(fact, dim, "bucket", n_salt=16)
    return joined.groupBy("d_label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias(
            "sum_qty_cents"
        ),
    )


# ---------------------------------------------------------------------------
# Composite corpus-clean pipeline (quality gate → prefix-key exact dedup →
# per-source stats), average emitted as exact integer micro-tokens.
# ---------------------------------------------------------------------------
@register(
    "corpus_clean_pipeline",
    f"""
    WITH feats AS (
      SELECT doc_id, text, source,
             LEN({_WORDS}) AS n_tokens,
             LEN(REGEXP_EXTRACT_ALL(text, '{TX.BPE_REGEX}')) AS n_bpe_tokens,
             LEN(REGEXP_EXTRACT_ALL(text, '[^A-Za-z0-9\\s]'))
               / CAST(LENGTH(text) AS DOUBLE) AS punct_ratio
      FROM documents
    ), kept AS (
      SELECT * FROM feats WHERE n_tokens >= 40 AND punct_ratio <= 0.05
    ), canon AS (
      SELECT MD5(SUBSTR(text, 1, 40)) AS k, MIN(doc_id) AS canonical_id
      FROM kept GROUP BY 1
    ), deduped AS (
      SELECT kept.* FROM kept
      JOIN canon ON MD5(SUBSTR(kept.text, 1, 40)) = canon.k
                AND kept.doc_id = canon.canonical_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST((SUM(n_tokens) * 1000000) // COUNT(*) AS BIGINT)
             AS avg_tokens_micro
    FROM deduped GROUP BY source
    """,
    doc="composite: quality gate -> prefix-key exact dedup -> corpus stats, "
    "integer-exact micro-token average",
)
def corpus_clean_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "text",
        "source",
        TX.whitespace_token_count(F.col("text")).alias("n_tokens"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        (
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
            )
            / F.length("text").cast("double")
        ).alias("punct_ratio"),
    )
    kept = feats.where((F.col("n_tokens") >= 40) & (F.col("punct_ratio") <= 0.05))
    deduped = D.exact_dedup(kept, F.substring("text", 1, 40), "doc_id").where(
        ~F.col("is_dup")
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.expr("CAST((sum(n_tokens) * 1000000L) div count(1) AS BIGINT)").alias(
            "avg_tokens_micro"
        ),
    )
