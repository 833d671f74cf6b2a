"""Training-run layout E2E: calibrated quality selection → temperature
mixture → concat-and-chunk packing, as ONE query with a chained-CTE
oracle.

The last mile every pre-training run walks after curation: each
source's own top half by calibrated quality (operators/calibrate), a
τ=2 temperature mixture sized to half the selected pool
(operators/mixture, rates derived from the SELECTED subset — the
stage coupling the oracle must reproduce), and the sequence layout of
the surviving documents (operators/packing). The per-source funnel —
input → quality gate → mixture draw → token mass → sequences touched
— is the report a training-data owner signs off on.

Every stage's CTE form is the parametrized builder its unit family
uses (sql_percentile_ctes / sql_rates_ctes / sql_spans_ctes), so the
hash match checks the COMPOSITION, not just the stages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import calibrate as CB
from ..operators import mixture as MX
from ..operators import packing as PK
from ..operators.sketches import sql_hash60
from ..sources.testdata import load_table
from .registry import register

_KEEP_PPM = 500_000      # each source's top half by calibrated quality
_TARGET_PPM = 500_000    # mixture sized to half the selected pool
_SALT = "mix0"

_ORACLE = (
    "    WITH "
    + CB.sql_percentile_ctes("documents")
    + f""", qual AS (
      SELECT doc_id, source FROM pctl
      WHERE pct_ppm >= {CB.PPM - _KEEP_PPM}
    ), qdocs AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN qual USING (doc_id)
    ), """
    + MX.sql_rates_ctes("qdocs", _TARGET_PPM)
    + f""", samp AS (
      SELECT q.doc_id, q.source, q.text
      FROM qdocs q JOIN rates USING (source)
      WHERE {sql_hash60(f"'{_SALT}|' || CAST(doc_id AS VARCHAR)")}
            % {MX.PPM} < keep_ppm
    ), """
    + PK.sql_spans_ctes("samp")
    + """, seqmap AS (
      SELECT doc_id, shard,
             UNNEST(GENERATE_SERIES(first_seq, last_seq)) AS seq
      FROM spans2
    ), srcs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_input
      FROM documents GROUP BY source
    ), qcnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality
      FROM qual GROUP BY source
    ), scnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled
      FROM samp GROUP BY source
    ), tokcnt AS (
      SELECT s.source, CAST(SUM(sp.tok) AS BIGINT) AS n_tokens
      FROM spans2 sp JOIN samp s USING (doc_id) GROUP BY s.source
    ), seqcnt AS (
      SELECT s.source,
             CAST(COUNT(DISTINCT (sm.shard, sm.seq)) AS BIGINT)
               AS n_seqs_touched
      FROM seqmap sm JOIN samp s USING (doc_id) GROUP BY s.source
    )
    SELECT srcs.source, srcs.n_input,
           CAST(COALESCE(n_quality, 0) AS BIGINT) AS n_quality,
           CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_seqs_touched, 0) AS BIGINT) AS n_seqs_touched
    FROM srcs
    LEFT JOIN qcnt USING (source)
    LEFT JOIN scnt USING (source)
    LEFT JOIN tokcnt USING (source)
    LEFT JOIN seqcnt USING (source)
    """
)


@register(
    "corpus_layout_e2e",
    _ORACLE,
    doc="training-run layout E2E: per-source calibrated top half → τ=2 "
    "temperature mixture (rates derived from the selected subset) → "
    "concat-and-chunk packing; per-source funnel of docs/tokens/"
    "sequences — composition of three attested operator families in "
    "one DAG (operators/calibrate + mixture + packing)",
)
def corpus_layout_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    qual = CB.top_fraction_per_group(docs, _KEEP_PPM).select(
        "doc_id", "source"
    )
    qdocs = docs.join(qual.select("doc_id"), "doc_id").select(
        "doc_id", "source", "text"
    )
    samp = MX.temperature_sample(qdocs, _TARGET_PPM, salt=_SALT)
    sdocs = qdocs.join(samp.select("doc_id"), "doc_id").localCheckpoint()
    spans = PK.pack_doc_spans(sdocs)
    seqmap = PK.pack_seq_map(sdocs)
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_input")
    )
    qcnt = qual.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_quality")
    )
    scnt = samp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )
    src_of = sdocs.select("doc_id", "source")
    tokcnt = (
        spans.join(src_of, "doc_id")
        .groupBy("source")
        .agg(F.sum("tok").cast("long").alias("n_tokens"))
    )
    seqcnt = (
        seqmap.join(src_of, "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("shard", "seq")
            .cast("long")
            .alias("n_seqs_touched")
        )
    )
    out = (
        srcs.join(qcnt, "source", "left")
        .join(scnt, "source", "left")
        .join(tokcnt, "source", "left")
        .join(seqcnt, "source", "left")
    )
    return out.select(
        "source",
        "n_input",
        F.coalesce("n_quality", F.lit(0)).cast("long").alias("n_quality"),
        F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_seqs_touched", F.lit(0))
        .cast("long")
        .alias("n_seqs_touched"),
    )
