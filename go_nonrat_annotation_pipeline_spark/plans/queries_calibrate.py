"""Per-source quality calibration + curriculum queries
(operators/calibrate.py).

Rank-percentile calibration of a lexical-diversity score within each
source (per-domain thresholds, CCNet/RefinedWeb posture), the top-slice
selection it enables, and the bucketed curriculum layout. All exact
integer arithmetic — no approximate quantiles anywhere.
"""

from __future__ import annotations

from ..operators import calibrate as CB
from ..operators.sketches import sql_hash60
from ..sources.testdata import load_table
from .registry import register

_KEEP_PPM = 250_000
_BUCKETS = 10
_SHARDS = 8
_SALT = "cur0"

_CTES = CB.sql_percentile_ctes()


@register(
    "q_quality_percentile_by_source",
    "    WITH " + _CTES + """
    SELECT doc_id, source, score_ppm, pct_ppm FROM pctl
    """,
    doc="per-source rank-percentile calibration of a lexical-diversity "
    "score — exact integer percentile over a deterministic ordering, "
    "one keyed window per source, no approx-quantile sketch "
    "(operators/calibrate.rank_percentile_by_group)",
)
def q_quality_percentile_by_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return CB.rank_percentile_by_group(docs)


@register(
    "q_quality_top_slice_per_source",
    "    WITH " + _CTES + f"""
    SELECT doc_id, source, score_ppm, pct_ppm FROM pctl
    WHERE pct_ppm >= {CB.PPM - _KEEP_PPM}
    """,
    doc="calibrated selection: every source's own top quartile by "
    "percentile — the per-domain filter that a single global threshold "
    "cannot express (operators/calibrate.top_fraction_per_group)",
)
def q_quality_top_slice_per_source(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return CB.top_fraction_per_group(docs, _KEEP_PPM)


@register(
    "q_curriculum_layout",
    "    WITH " + _CTES + f""",
    laid AS (
      SELECT doc_id,
             LEAST({_BUCKETS - 1}, pct_ppm * {_BUCKETS} // {CB.PPM})
               AS bucket,
             {sql_hash60(f"'{_SALT}|' || CAST(doc_id AS VARCHAR)")} AS h
      FROM pctl
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(h % {_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY bucket, h % {_SHARDS}
                                   ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM laid
    """,
    doc="curriculum layout: percentile bucket → shard → hash position; "
    "deterministic, replayable, and no window task sees more than "
    "1/(buckets·shards) of the corpus (operators/calibrate."
    "curriculum_layout)",
)
def q_curriculum_layout(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return CB.curriculum_layout(docs, _BUCKETS, _SHARDS, salt=_SALT)
